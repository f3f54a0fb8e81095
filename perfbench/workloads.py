"""The workloads. Each one prepares its Spark inputs (the part of set-up
after the session starts), runs one timed iteration through a public
grokspark entry point, checks the iteration's output against the seed's
pure-Python reference, and, in the traced run, splits the work into
layers.

The two workloads read tables of different sizes. ``counts_mixed``
reads ``COUNTS_ROWS`` rows, enough that the regex and the ``fields``
maps, not Spark's fixed cost per job, take most of an iteration.
``sinks_fanout`` writes its whole input back out and checks it row by
row, so it reads ``SINKS_ROWS``. The traced run of ``sinks_fanout``
also splits the corpus operators (``CorpusPrepare``), which no log
workload touches."""

from __future__ import annotations

import shutil
import statistics
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.trace import Tracer


COUNTS_ROWS = 400_000
SINKS_ROWS = 50_000


class Mismatch(RuntimeError):
    """An output differs from the seed's reference."""


def checked(wl, spark, ctx, ref):
    """One iteration whose output must match the reference."""
    out = wl.iterate(spark, ctx)
    if not wl.check(out, ref, ctx):
        raise Mismatch(f"{wl.name}: output differs from the reference")
    return out


def noop(df) -> None:
    """Run a DataFrame to Spark's ``noop`` sink: every row is produced
    and dropped, so the time is the plan's own cost."""
    df.write.format("noop").mode("overwrite").save()


def _flat_lines(batch) -> tuple[list[str], list[str]]:
    """The routes and decoded lines of a token batch, decoded the way
    ``grok_parse_arrow_kernel`` decodes them: one flat byte buffer and a
    slice per row."""
    import numpy as np

    tokens = batch.column(batch.schema.get_field_index("tokens"))
    offsets = tokens.offsets.to_numpy(zero_copy_only=False)
    flat = tokens.values.to_numpy(zero_copy_only=False).astype(np.uint8, copy=False).tobytes()
    lines = [
        flat[offsets[i] : offsets[i + 1]].decode("utf-8", errors="replace")
        for i in range(batch.num_rows)
    ]
    return batch.column(0).to_pylist(), lines


def _detokenize_crossing(batches):
    """The identity crossing plus the kernel's per-row decode of the
    token bytes, without the regex."""
    for b in batches:
        routes, lines = _flat_lines(b)
        yield pa.RecordBatch.from_arrays(
            [pa.array(routes, pa.string()), pa.array([not x for x in lines])],
            names=["route", "matched"],
        )


def _identity_crossing(batches):
    """mapInArrow body that only crosses the JVM<->Python boundary: the
    token batches come in, a (route, matched=false) batch goes back."""
    for b in batches:
        yield pa.RecordBatch.from_arrays(
            [b.column(0), pa.array([False] * b.num_rows)], names=["route", "matched"]
        )


def prefix_chain(
    tracer: Tracer, chain: list[tuple[str, Callable[[], object]]], rounds: int
) -> dict[str, float]:
    """Run cumulative prefixes round-robin ``rounds`` times; layer k's
    self time is median(prefix k) - median(prefix k-1)."""
    walls: dict[str, list[float]] = {name: [] for name, _ in chain}
    with tracer.span("layers"):
        for _ in range(rounds):
            for name, run in chain:
                with tracer.span(f"prefix:{name}") as s:
                    run()
                walls[name].append(s.seconds)
    out, prev = {}, 0.0
    for name, _ in chain:
        med = statistics.median(walls[name])
        out[name] = med - prev
        prev = med
    return out


def _dir_bytes_files(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*.parquet") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


@dataclass
class Ctx:
    """What set-up hands to an iteration."""

    df: object
    registry: object = None
    work: Path | None = None
    runs: int = 0
    extra: dict = field(default_factory=dict)


class LogCounts:
    """``route_match_counts(...).collect()`` over a log table."""

    name = "counts_mixed"
    rows = COUNTS_ROWS
    # untimed iterations after the cold one
    warmup_iters = 1
    traced_iters = 2
    prefix_rounds = 2

    def inputs(self, cache: Path, seed: int):
        return inputs.ensure_logs(cache, seed, self.rows)

    def prepare(self, spark, data: Path, work: Path) -> Ctx:
        from grokspark.compiler import GrokRegistry

        registry = GrokRegistry.with_default_patterns()
        inputs.compiled_routes(registry)
        return Ctx(df=spark.read.parquet(str(data)), registry=registry, work=work)

    def iterate(self, spark, ctx: Ctx):
        from grokspark.pipeline import route_match_counts

        rows = route_match_counts(spark, ctx.df, registry=ctx.registry).collect()
        return {(r["route"], r["matched"]): r["n"] for r in rows}

    def check(self, out, ref: dict, ctx: Ctx) -> bool:
        return out == inputs.route_counts(ref)

    def layers(self, spark, ctx: Ctx, ref: dict, tracer: Tracer) -> dict:
        from pyspark.sql import functions as F

        from grokspark import datagen
        from grokspark.udfs import grok_parse_arrow_kernel

        compiled = {n: c for n, (_r, c) in inputs.compiled_routes(ctx.registry).items()}
        routes = F.broadcast(datagen.routes_df(spark))
        scan = ctx.df.select("source", "tokens")
        enriched = (
            scan.join(routes, "source", "left")
            .filter(F.col("route").isNotNull())
            .select("route", "pattern_name", "tokens")
        )

        def parse(with_fields: bool):
            kernel, ddl = grok_parse_arrow_kernel(compiled, with_fields=with_fields)
            return enriched.mapInArrow(kernel, ddl)

        chain = [
            ("layer.scan_s", lambda: noop(scan)),
            ("layer.enrich_s", lambda: noop(enriched)),
            (
                "layer.arrow_crossing_s",
                lambda: noop(
                    enriched.mapInArrow(_identity_crossing, "route string, matched boolean")
                ),
            ),
            (
                "layer.detokenize_s",
                lambda: noop(
                    enriched.mapInArrow(_detokenize_crossing, "route string, matched boolean")
                ),
            ),
            ("layer.regex_s", lambda: noop(parse(False))),
            ("layer.fields_s", lambda: noop(parse(True))),
            ("layer.aggregate_s", lambda: checked(self, spark, ctx, ref)),
        ]
        return prefix_chain(tracer, chain, self.prefix_rounds)


class SinksFanout(LogCounts):
    """Default-config ``GrokPipeline.run`` into a fresh ``out_dir``."""

    name = "sinks_fanout"
    rows = SINKS_ROWS
    # its iteration walls still fall over the first few iterations
    warmup_iters = 2

    def iterate(self, spark, ctx: Ctx):
        from grokspark.pipeline import GrokPipeline, PipelineConfig

        ctx.runs += 1
        out_dir = ctx.work / f"out-{ctx.runs}"
        result = GrokPipeline(
            spark, PipelineConfig(out_dir=str(out_dir), resume=True), registry=ctx.registry
        ).run(ctx.df)
        return out_dir, result

    @staticmethod
    def _expected(ref: dict) -> dict[tuple[str, str], dict[str, int]]:
        want: dict[tuple[str, str], dict[str, int]] = {}
        for key, n in ref["counts"].items():
            route, name, matched = key.split("|")
            c = want.setdefault((route, name), {"matched": 0, "unmatched": 0})
            c["matched" if matched == "True" else "unmatched"] += n
        return want

    def check(self, out, ref: dict, ctx: Ctx, keep: bool = False) -> bool:
        """Reported counts, committed counts, routing and the per-row
        token invariant: every input row lands exactly once, in its
        source's sink or the dead-letter sink, with its tokens as read."""
        out_dir, result = out
        try:
            want = self._expected(ref)
            if result.unit_counts != want:
                return False
            if result.unroutable_count != ref["stats"]["unroutable"]:
                return False
            sinks = pq.read_table(
                out_dir / "sinks",
                columns=["doc_id", "tokens", "source", "matched", "route", "pattern_name"],
                partitioning="hive",
            )
            got: dict[tuple[str, str], dict[str, int]] = {}
            by_source = inputs.routes_by_source()
            for route, name, source, matched in zip(
                sinks.column("route").to_pylist(),
                sinks.column("pattern_name").to_pylist(),
                sinks.column("source").to_pylist(),
                sinks.column("matched").to_pylist(),
            ):
                if by_source.get(source) != (route, name):
                    return False
                c = got.setdefault((route, name), {"matched": 0, "unmatched": 0})
                c["matched" if matched else "unmatched"] += 1
            if got != want:
                return False
            dead = pq.read_table(out_dir / "unroutable", columns=["doc_id", "tokens", "source"])
            if any(s in by_source for s in dead.column("source").to_pylist()):
                return False
            cols = ["doc_id", "tokens"]
            written = pa.concat_tables(
                [sinks.select(cols), dead.select(cols).cast(sinks.select(cols).schema)]
            ).sort_by("doc_id")
            source = ctx.extra.get("input")
            if source is None:
                source = ctx.extra["input"] = (
                    pq.read_table(ctx.extra["data"], columns=cols).sort_by("doc_id")
                )
            return written.num_rows == source.num_rows and written.equals(
                source.cast(written.schema)
            )
        finally:
            if not keep:
                shutil.rmtree(out_dir, ignore_errors=True)

    def prepare(self, spark, data: Path, work: Path) -> Ctx:
        ctx = super().prepare(spark, data, work)
        ctx.extra["data"] = str(data)
        return ctx

    def layers(self, spark, ctx: Ctx, ref: dict, tracer: Tracer) -> dict:
        from grokspark.pipeline import GrokPipeline, PipelineConfig

        out = self.iterate(spark, ctx)
        out_dir = out[0]
        sink_bytes, sink_files = _dir_bytes_files(out_dir / "sinks")
        dead_bytes, dead_files = _dir_bytes_files(out_dir / "unroutable")
        in_bytes, _ = _dir_bytes_files(Path(ctx.extra["data"]))
        with tracer.span("pipeline.resume") as s:
            again = GrokPipeline(
                spark, PipelineConfig(out_dir=str(out_dir), resume=True), registry=ctx.registry
            ).run(ctx.df)
        ok = self.check(out, ref, ctx, keep=True) and self.check((out_dir, again), ref, ctx)
        if not ok:
            raise Mismatch("sinks_fanout: pipeline output differs from the reference")
        layers = {
            "pipeline.sink_bytes": sink_bytes + dead_bytes,
            "pipeline.sink_files": sink_files + dead_files,
            "pipeline.sink_bytes_per_input_byte": (sink_bytes + dead_bytes) / in_bytes,
            "pipeline.resume_noop_s": s.seconds,
        }
        corpus = CorpusPrepare()
        data, cref = corpus.inputs(ctx.extra["cache"], ctx.extra["seed"])
        cctx = corpus.prepare(spark, data, ctx.work)
        with tracer.span("operators.warmup"):
            checked(corpus, spark, cctx, cref)
        layers.update(corpus.layers(spark, cctx, cref, tracer))
        return layers


_CORPUS_AGGS = ("n_packs", "n_docs", "sum_tok", "max_tok", "n_truncated")


class CorpusPrepare:
    """``prepare_corpus`` over a one-file document table, aggregated per
    split as ``q_corpus_prepare`` does: the operators layer of the
    ``sinks_fanout`` traced run."""

    name = "corpus_prepare"

    def inputs(self, cache: Path, seed: int):
        return inputs.ensure_docs(cache, seed)

    def prepare(self, spark, data: Path, work: Path) -> Ctx:
        df = spark.read.parquet(str(data / "documents.parquet")).select("doc_id", "text")
        return Ctx(df=df, work=work)

    def iterate(self, spark, ctx: Ctx):
        from pyspark.sql import functions as F

        from grokspark.operators.corpus import prepare_corpus

        packed = prepare_corpus(ctx.df, **inputs.CORPUS_PARAMS)
        rows = (
            packed.groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("n_packs"),
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("sum_tok"),
                F.max("n_tok").alias("max_tok"),
                F.sum("n_truncated").cast("long").alias("n_truncated"),
            )
            .collect()
        )
        return {r["split"]: [r[k] for k in _CORPUS_AGGS] for r in rows}

    def check(self, out, ref: dict, ctx: Ctx) -> bool:
        return out == ref["aggregates"]

    def layers(self, spark, ctx: Ctx, ref: dict, tracer: Tracer) -> dict:
        from pyspark.sql import functions as F

        from grokspark.operators.dedup import dedup_corpus
        from grokspark.operators.textops import quality_scores

        quality = (
            quality_scores(ctx.df, "text")
            .filter(F.col("quality_keep") == 1)
            .select("doc_id", "text")
        )
        chain = [
            ("operators.quality_s", lambda: noop(quality)),
            (
                "operators.dedup_s",
                lambda: noop(dedup_corpus(quality.localCheckpoint(), threshold=0.5, n=2, bands=64)),
            ),
            ("operators.pack_s", lambda: checked(self, spark, ctx, ref)),
        ]
        return prefix_chain(tracer, chain, rounds=1)


WORKLOADS = {
    w.name: w
    for w in (
        LogCounts(),
        SinksFanout(),
    )
}
