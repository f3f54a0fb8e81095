"""End-to-end pipeline tests: per-sink counts vs the pure-Python
reference semantics, routed-row token-array equality, resume, lineage."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from grokspark import GrokRegistry
from grokspark.datagen import SOURCES, iter_rows, line_for, routes_rows
from grokspark.pipeline import GrokPipeline, PipelineConfig, route_match_counts

N_ROWS = 600


@pytest.fixture(scope="module")
def corpus():
    return list(iter_rows(N_ROWS))


@pytest.fixture(scope="module")
def seq_df(spark, corpus):
    return spark.createDataFrame(
        corpus, schema="doc_id string, tokens array<int>, n_tok int, source string"
    ).cache()


@pytest.fixture(scope="module")
def oracle(corpus):
    """Pure-Python single-process reference run over the same rows —
    the stand-in for the Rust reference's semantics (FIXTURES.md §5)."""
    registry = GrokRegistry.with_default_patterns()
    compiled = {
        s: registry.compile(e, with_alias_only=True)
        for s, (_w, r, e) in SOURCES.items()
        if r
    }
    route_of = {s: r for s, (_w, r, _e) in SOURCES.items() if r}
    sink_counts: dict[str, dict[str, int]] = collections.defaultdict(
        lambda: {"matched": 0, "unmatched": 0}
    )
    unroutable = 0
    for row in corpus:
        src = row["source"]
        if src not in route_of:
            unroutable += 1
            continue
        line = bytes(row["tokens"]).decode("utf-8")
        m = compiled[src].match_against(line)
        sink_counts[route_of[src]]["matched" if m is not None else "unmatched"] += 1
    return {"sink_counts": dict(sink_counts), "unroutable": unroutable}


def test_route_match_counts_vs_oracle(spark, seq_df, oracle):
    got = {
        (r["route"], r["matched"]): r["n"]
        for r in route_match_counts(spark, seq_df).collect()
    }
    for route, counts in oracle["sink_counts"].items():
        assert got.get((route, True), 0) == counts["matched"], route
        assert got.get((route, False), 0) == counts["unmatched"], route


def test_full_pipeline_counts_and_invariants(spark, seq_df, corpus, oracle, tmp_path):
    out_dir = str(tmp_path / "out")
    pipe = GrokPipeline(
        spark, PipelineConfig(out_dir=out_dir, parse_partitions=8, per_pattern=True)
    )
    result = pipe.run(seq_df)

    # per-sink aggregate counts == pure-Python reference
    assert result.sink_counts == oracle["sink_counts"]
    assert result.unroutable_count == oracle["unroutable"]
    assert result.rows_in == N_ROWS

    # routed-row token-array equality: every sink row's tokens must be
    # byte-identical to the input row with the same doc_id
    input_tokens = {row["doc_id"]: row["tokens"] for row in corpus}
    for route in result.sink_counts:
        sink = spark.read.option("mergeSchema", "true").parquet(
            f"{out_dir}/sinks/{route}/*"
        )
        rows = sink.select("doc_id", "tokens", "n_tok", "matched").collect()
        assert len(rows) == sum(result.sink_counts[route].values())
        for r in rows:
            assert r["tokens"] == input_tokens[r["doc_id"]], r["doc_id"]
            assert r["n_tok"] == len(r["tokens"])

    # lineage covers every routed row exactly once
    assert sum(li["rows_in"] for li in result.lineage) == N_ROWS - oracle["unroutable"]
    assert sum(li["rows_matched"] for li in result.lineage) == sum(
        c["matched"] for c in result.sink_counts.values()
    )

    # parsed fields present for matched rows on at least one sink
    web = spark.read.option("mergeSchema", "true").parquet(f"{out_dir}/sinks/web/*")
    sample = web.filter(F.col("matched")).select("fields").limit(5).collect()
    assert sample and all(r["fields"] for r in sample)


def test_resume_skips_completed_units(spark, seq_df, oracle, tmp_path):
    out_dir = str(tmp_path / "out")
    cfg = PipelineConfig(out_dir=out_dir, parse_partitions=4, per_pattern=True)
    first = GrokPipeline(spark, cfg).run(seq_df)
    assert not first.skipped_units

    second = GrokPipeline(spark, cfg).run(seq_df)
    # every unit skipped, identical counts, much cheaper
    assert sorted(second.skipped_units) == sorted(
        ["unroutable"] + [f"{r}/{p}" for (r, p) in first.unit_counts]
    )
    assert second.sink_counts == first.sink_counts == oracle["sink_counts"]
    assert second.unroutable_count == first.unroutable_count


def test_unroutable_dead_letter(spark, seq_df, oracle, tmp_path):
    out_dir = str(tmp_path / "out")
    GrokPipeline(
        spark, PipelineConfig(out_dir=out_dir, parse_partitions=4, per_pattern=True)
    ).run(seq_df)
    dead = spark.read.parquet(f"{out_dir}/unroutable")
    assert dead.count() == oracle["unroutable"]
    assert set(
        r["source"] for r in dead.select("source").distinct().collect()
    ) == {"debug_feed"}


def test_typed_extract_columns_in_elb_sink(spark, seq_df, tmp_path):
    out_dir = str(tmp_path / "out")
    GrokPipeline(
        spark, PipelineConfig(out_dir=out_dir, parse_partitions=4, per_pattern=True)
    ).run(seq_df)
    elb = spark.read.parquet(f"{out_dir}/sinks/web/pat_elb")
    schema = {f.name: f.dataType.simpleString() for f in elb.schema.fields}
    assert schema["clientport"] == "bigint"
    assert schema["request_processing_time"] == "double"
    ok = elb.filter(F.col("matched"))
    assert ok.filter(F.col("clientport").isNull()).count() == 0


def test_single_pass_mode_counts_match(spark, seq_df, corpus, oracle, tmp_path):
    """single_pass=True: one scan + dynamic-partition fan-out must
    produce identical per-sink counts, token equality, and resume."""
    out_dir = str(tmp_path / "sp")
    cfg = PipelineConfig(out_dir=out_dir, parse_partitions=8, single_pass=True)
    result = GrokPipeline(spark, cfg).run(seq_df)
    assert result.sink_counts == oracle["sink_counts"]
    assert result.unroutable_count == oracle["unroutable"]

    input_tokens = {row["doc_id"]: row["tokens"] for row in corpus}
    sinks = spark.read.parquet(f"{out_dir}/sinks")
    rows = sinks.select("doc_id", "tokens").collect()
    assert len(rows) == N_ROWS - oracle["unroutable"]
    for r in rows:
        assert r["tokens"] == input_tokens[r["doc_id"]]

    # partition pruning: reading one route dir only touches that route
    web = spark.read.parquet(f"{out_dir}/sinks/route=web")
    assert web.count() == sum(oracle["sink_counts"]["web"].values())

    second = GrokPipeline(spark, cfg).run(seq_df)
    assert "singlepass" in second.skipped_units
    assert second.sink_counts == result.sink_counts


@pytest.fixture(scope="module")
def seq_parquet(spark, seq_df, tmp_path_factory):
    """File-backed input for ranged mode (6 parquet files)."""
    path = str(tmp_path_factory.mktemp("seq") / "sequences")
    seq_df.repartition(6).write.mode("overwrite").parquet(path)
    return path


def test_ranged_mode_counts_and_single_scan(spark, seq_parquet, corpus, oracle, tmp_path):
    """range_units=K: per-sink counts match the reference, every input
    file is scanned by exactly one range (disjoint cover — the
    scans-input-once evidence), counts come from write-side observe
    metrics, and the token invariant holds in the committed sinks."""
    out_dir = str(tmp_path / "ranged")
    src = spark.read.parquet(seq_parquet)
    cfg = PipelineConfig(out_dir=out_dir, range_units=3)
    result = GrokPipeline(spark, cfg).run(src)

    assert result.sink_counts == oracle["sink_counts"]
    assert result.unroutable_count == oracle["unroutable"]
    assert result.rows_in == N_ROWS

    # disjoint cover of the input files
    all_files = set(src.inputFiles())
    seen: set[str] = set()
    for unit, files in result.unit_files.items():
        fs = set(files)
        assert not (fs & seen), f"{unit} rescans files"
        seen |= fs
    assert seen == all_files
    assert len(result.unit_files) == 3

    # committed sinks: token pass-through invariant
    input_tokens = {row["doc_id"]: row["tokens"] for row in corpus}
    web = spark.read.option("mergeSchema", "true").parquet(f"{out_dir}/sinks/web/*/*")
    rows = web.select("doc_id", "tokens", "matched").collect()
    assert len(rows) == sum(oracle["sink_counts"]["web"].values())
    for r in rows:
        assert r["tokens"] == input_tokens[r["doc_id"]]

    # lineage covers every routed row exactly once, keyed by range
    assert sum(li["rows_in"] for li in result.lineage) == N_ROWS - oracle["unroutable"]
    assert {li["part_id"] for li in result.lineage} <= {0, 1, 2}
    assert all(li["rows_timeout"] == 0 for li in result.lineage)

    # dead-letter rows live under unroutable/<range_unit>
    dead = spark.read.parquet(f"{out_dir}/unroutable/*")
    assert dead.count() == oracle["unroutable"]


def test_ranged_mode_resume_per_range(spark, seq_parquet, oracle, tmp_path):
    import json
    import os

    out_dir = str(tmp_path / "ranged")
    src = spark.read.parquet(seq_parquet)
    cfg = PipelineConfig(out_dir=out_dir, range_units=3)
    first = GrokPipeline(spark, cfg).run(src)
    assert not first.skipped_units

    second = GrokPipeline(spark, cfg).run(src)
    assert sorted(second.skipped_units) == ["range_0000", "range_0001", "range_0002"]
    assert second.sink_counts == first.sink_counts == oracle["sink_counts"]
    assert second.unroutable_count == first.unroutable_count
    assert second.lineage == first.lineage

    # invalidate ONE range -> only that range recomputes
    manifest_path = os.path.join(out_dir, "manifest.json")
    with open(manifest_path) as f:
        state = json.load(f)
    del state["range_0001"]
    with open(manifest_path, "w") as f:
        json.dump(state, f)
    third = GrokPipeline(spark, cfg).run(src)
    assert sorted(third.skipped_units) == ["range_0000", "range_0002"]
    assert third.sink_counts == first.sink_counts


def test_ranged_mode_marks_published_range_before_a_later_range_fails(
    spark, seq_parquet, oracle, tmp_path, monkeypatch
):
    """Fault injection: range 1 raises after range 0 has published.
    range_0000 is marked done as soon as it is published, before range
    1 fails, so a resumed run skips it, redoes the rest, and reports
    the counts of a clean run."""
    import json
    import os
    import threading

    from grokspark import pipeline as P

    marked = threading.Event()
    mark = P._Manifest.mark
    publish = GrokPipeline._publish_range
    seen = {}

    def watching_mark(self, unit, **record):
        mark(self, unit, **record)
        if unit == "range_0000":
            marked.set()

    def failing_publish(self, unit, range_id):
        if range_id == 1:
            # the ranges run concurrently; fail only once range 0 has
            # published (and, if the fix holds, been marked)
            seen["range_0000_marked"] = marked.wait(60)
            raise RuntimeError("injected publish failure")
        publish(self, unit, range_id)

    out_dir = str(tmp_path / "ranged")
    src = spark.read.parquet(seq_parquet)
    cfg = PipelineConfig(out_dir=out_dir, range_units=3)
    monkeypatch.setattr(P._Manifest, "mark", watching_mark)
    monkeypatch.setattr(GrokPipeline, "_publish_range", failing_publish)
    with pytest.raises(RuntimeError, match="injected"):
        GrokPipeline(spark, cfg).run(src)
    monkeypatch.undo()
    assert seen["range_0000_marked"]

    with open(os.path.join(out_dir, "manifest.json")) as f:
        state = json.load(f)
    assert state["range_0000"]["status"] == "done"
    assert "range_0001" not in state

    resumed = GrokPipeline(spark, cfg).run(src)
    assert "range_0000" in resumed.skipped_units
    assert "range_0001" not in resumed.skipped_units
    assert resumed.sink_counts == oracle["sink_counts"]
    assert resumed.unroutable_count == oracle["unroutable"]
    assert resumed.rows_in == N_ROWS
    assert sum(li["rows_in"] for li in resumed.lineage) == N_ROWS - oracle["unroutable"]
    web = spark.read.option("mergeSchema", "true").parquet(f"{out_dir}/sinks/web/*/*")
    assert web.count() == sum(oracle["sink_counts"]["web"].values())


def test_ranged_mode_timeout_lineage(spark, tmp_path):
    """A hostile line under a per-row timeout is reported as
    rows_timeout in lineage — distinct from genuine no-matches — and
    never fails the task."""
    hostile_expr = (
        "%{GREEDYDATA:a} %{GREEDYDATA:b} %{GREEDYDATA:c} "
        "%{GREEDYDATA:d} %{GREEDYDATA:e}=%{GREEDYDATA:f}"
    )
    rows = []
    for i in range(20):
        line = "k v x y w=ok" if i % 2 else "nomatch line without equals"
        rows.append((f"d{i:03d}", list(line.encode()), len(line), "evil"))
    hostile_line = "a " * 10000
    rows.append(("dhostile", list(hostile_line.encode()), len(hostile_line), "evil"))
    src_path = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    ).repartition(2).write.parquet(src_path)

    routes = [
        {"source": "evil", "route": "r1", "pattern_name": "pat_evil", "sink_path": "sinks/r1"}
    ]
    cfg = PipelineConfig(out_dir=str(tmp_path / "out"), range_units=2, timeout=0.05)
    pipe = GrokPipeline(
        spark, cfg, routes=routes, pattern_exprs={"pat_evil": hostile_expr}
    )
    result = pipe.run(spark.read.parquet(src_path))
    counts = result.unit_counts[("r1", "pat_evil")]
    assert counts["matched"] == 10
    assert counts["unmatched"] == 11  # 10 no-match + 1 timeout
    assert sum(li["rows_timeout"] for li in result.lineage) == 1
    assert sum(li["rows_in"] for li in result.lineage) == 21


def test_ranged_mode_rejects_transformed_or_nonparquet_input(spark, seq_parquet, tmp_path):
    """Ranged mode re-plans the scan per file-range, so it must REFUSE
    inputs whose plan it would silently alter: filtered scans (filter
    would be dropped) and non-parquet ingests (leaf re-read would
    fail or corrupt)."""
    cfg = PipelineConfig(out_dir=str(tmp_path / "o"), range_units=2)
    filtered = spark.read.parquet(seq_parquet).filter(F.col("source") == "elb")
    with pytest.raises(ValueError, match="untransformed parquet"):
        GrokPipeline(spark, cfg).run(filtered)

    from grokspark.sources import read_raw_lines

    (tmp_path / "x.log").write_text("a line\n", encoding="utf-8")
    raw = read_raw_lines(spark, str(tmp_path / "*.log"), source="apache_access")
    with pytest.raises(ValueError, match="untransformed parquet"):
        GrokPipeline(spark, cfg).run(raw)

    # a computed column would be silently dropped by the re-read
    computed = spark.read.parquet(seq_parquet).withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="computed"):
        GrokPipeline(spark, cfg).run(computed)

    # same-name same-type REPLACEMENT is the sneaky case: the schema
    # round-trip can't see it, the plan walk must (Alias in the Project)
    shadowed = spark.read.parquet(seq_parquet).withColumn("n_tok", F.lit(0))
    with pytest.raises(ValueError, match="computed"):
        GrokPipeline(spark, cfg).run(shadowed)


def test_ranged_mode_accepts_pruning_projection(spark, seq_parquet, oracle, tmp_path):
    """A column-pruning select over the bare scan is harmless for
    ranged mode (the re-read restores a superset) and must be allowed."""
    cfg = PipelineConfig(out_dir=str(tmp_path / "o"), range_units=2)
    pruned = spark.read.parquet(seq_parquet).select(
        "doc_id", "tokens", "n_tok", "source"
    )
    result = GrokPipeline(spark, cfg).run(pruned)
    assert result.sink_counts == oracle["sink_counts"]


def test_ranged_mode_refuses_resume_after_input_change(spark, seq_df, tmp_path):
    """A changed input file set invalidates committed range units —
    resuming must fail loudly, not silently skip/duplicate files."""
    src = str(tmp_path / "src")
    seq_df.limit(200).repartition(4).write.parquet(src)
    cfg = PipelineConfig(out_dir=str(tmp_path / "out"), range_units=2)
    GrokPipeline(spark, cfg).run(spark.read.parquet(src))

    # grow the input: append two more files
    seq_df.limit(300).repartition(2).write.mode("append").parquet(src)
    with pytest.raises(ValueError, match="file set changed"):
        GrokPipeline(spark, cfg).run(spark.read.parquet(src))
