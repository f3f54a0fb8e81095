"""Spark UDF kernels must agree exactly with the pure-Python matcher
(which itself is reference-parity-tested in test_compiler.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grokspark import GrokRegistry
from grokspark.datagen import SOURCES, iter_rows
from grokspark.udfs import (
    apply_extracts,
    detokenize_udf,
    grok_match_udf,
    grok_parse_map_udf,
    grok_parse_struct_udf,
)

N_ROWS = 400


@pytest.fixture(scope="module")
def corpus():
    return list(iter_rows(N_ROWS))


@pytest.fixture(scope="module")
def seq_df(spark, corpus):
    return spark.createDataFrame(
        corpus, schema="doc_id string, tokens array<int>, n_tok int, source string"
    ).cache()


@pytest.fixture(scope="module")
def registry():
    return GrokRegistry.with_default_patterns()


def test_detokenize_roundtrip(spark, seq_df, corpus):
    out = seq_df.withColumn("line", detokenize_udf()(F.col("tokens"))).select(
        "doc_id", "line"
    )
    got = {r["doc_id"]: r["line"] for r in out.collect()}
    for row in corpus:
        expected = bytes(row["tokens"]).decode("utf-8")
        assert got[row["doc_id"]] == expected


@pytest.mark.parametrize("source", [s for s, (_w, r, _e) in SOURCES.items() if r])
def test_parse_map_matches_pure_python(spark, seq_df, corpus, registry, source):
    expr = SOURCES[source][2]
    compiled = registry.compile(expr, with_alias_only=True)
    parse = grok_parse_map_udf(compiled, from_tokens=True)
    rows = (
        seq_df.filter(F.col("source") == source)
        .withColumn("fields", parse(F.col("tokens")))
        .select("doc_id", "tokens", "fields")
        .collect()
    )
    assert rows, f"no test rows for {source}"
    for r in rows:
        line = bytes(r["tokens"]).decode("utf-8")
        expected = compiled.match_against(line)
        assert r["fields"] == expected, f"{source}: {line!r}"


def test_parse_struct_matches_pure_python(spark, seq_df, registry):
    compiled = registry.compile(SOURCES["app_log"][2], with_alias_only=True)
    parse = grok_parse_struct_udf(compiled, from_tokens=True)
    rows = (
        seq_df.filter(F.col("source") == "app_log")
        .withColumn("parsed", parse(F.col("tokens")))
        .select("tokens", "parsed.*")
        .collect()
    )
    assert rows
    for r in rows:
        line = bytes(r["tokens"]).decode("utf-8")
        expected = compiled.match_against(line)
        if expected is None:
            assert r["_matched"] is False
            assert all(r[k] is None for k in compiled.capture_names)
        else:
            assert r["_matched"] is True
            for k in compiled.capture_names:
                assert r[k] == expected.get(k)


def test_match_udf(spark, seq_df, registry):
    compiled = registry.compile(SOURCES["syslog"][2], with_alias_only=True)
    rows = (
        seq_df.filter(F.col("source") == "syslog")
        .withColumn("m", grok_match_udf(compiled, from_tokens=True)(F.col("tokens")))
        .collect()
    )
    assert rows
    for r in rows:
        line = bytes(r["tokens"]).decode("utf-8")
        assert r["m"] == (compiled.match_against(line) is not None)


@pytest.mark.parametrize("source", [s for s, (_w, r, _e) in SOURCES.items() if r])
def test_match_udf_runs_the_twin(corpus, registry, source):
    """grok_match_udf equals ``match_against(...) is not None`` and
    searches with the capture-free twin, not the capturing pattern."""
    import pandas as pd

    compiled = registry.compile(SOURCES[source][2], with_alias_only=True)
    lines = [bytes(r["tokens"]).decode("utf-8") for r in corpus if r["source"] == source]
    lines += [line[:-1] for line in lines[:20]] + [None]
    got = grok_match_udf(compiled).func(pd.Series(lines, dtype=object)).tolist()
    assert got == [
        s is not None and compiled.match_against(s) is not None for s in lines
    ]
    eng = compiled.engine
    assert eng.twin_pattern is not None and eng.twin_pattern.groups == 0


# a GREEDYDATA stack that backtracks polynomially on a long line with no
# '=' (the hostile row of test_timeout_and_fixes)
HOSTILE_EXPR = (
    "%{GREEDYDATA:a} %{GREEDYDATA:b} %{GREEDYDATA:c} "
    "%{GREEDYDATA:d} %{GREEDYDATA:e}=%{GREEDYDATA:f}"
)
HOSTILE_LINE = "a " * 10000


def _flat_is_ascii(batch) -> bool:
    values = batch.column("tokens").values.to_numpy(zero_copy_only=False)
    return values.astype("uint8").tobytes().isascii()


def _kernel_batches(with_hostile: bool):
    """Two Arrow batches of (route, pattern_name, tokens): the first
    mixes ASCII and non-ASCII rows (per-row decode), the second is all
    ASCII (one decode per batch). Both carry NULL tokens, an unknown
    pattern name and a NULL route."""
    import pyarrow as pa

    from grokspark.datagen import routes_rows

    by_source = {r["source"]: (r["route"], r["pattern_name"]) for r in routes_rows()}
    rows = []
    for row in iter_rows(300):
        route, name = by_source.get(row["source"], ("web", "pat_unknown"))
        rows.append({"route": route, "pattern_name": name, "tokens": row["tokens"]})
    special = [
        {"route": "app", "pattern_name": "pat_app_log", "tokens": None},
        {"route": "web", "pattern_name": "pat_nope", "tokens": list(b"GET /")},
        {"route": None, "pattern_name": "pat_syslog", "tokens": rows[1]["tokens"]},
        {"route": "r", "pattern_name": "evil", "tokens": list(b"x y z w v=ok")},
        {"route": "r", "pattern_name": "evil", "tokens": list(b"no equals")},
    ]
    if with_hostile:
        special.append(
            {"route": "r", "pattern_name": "evil", "tokens": list(HOSTILE_LINE.encode())}
        )
    accented = "2016-09-19T18:19:00 [8.8.8.8:prd] DEBUG café olé message"
    accented_row = {
        "route": "app",
        "pattern_name": "pat_app_log",
        "tokens": list(accented.encode()),
    }
    schema = pa.schema(
        [("route", pa.string()), ("pattern_name", pa.string()), ("tokens", pa.list_(pa.int32()))]
    )
    mixed = pa.RecordBatch.from_pylist(rows[:150] + [accented_row] + special, schema=schema)
    ascii_only = pa.RecordBatch.from_pylist(rows[150:] + special, schema=schema)
    return [mixed, ascii_only]


@pytest.mark.parametrize("timeout", [None, 0.05])
def test_arrow_kernel_match_only_equals_fields_kernel(registry, timeout):
    """The match-only kernel (``with_fields=False``) reports the same
    ``matched`` and ``timed_out`` columns as the fields kernel, passes
    ``route`` through unchanged, and both agree with the pure-Python
    matcher row by row. With a timeout the batch also carries a hostile
    row that times out."""
    import pyarrow as pa

    from grokspark.datagen import pattern_exprs
    from grokspark.udfs import _router_rt_factory, grok_parse_arrow_kernel

    specs = {
        name: registry.compile(expr, with_alias_only=True)
        for name, expr in pattern_exprs().items()
    }
    specs["evil"] = registry.compile(HOSTILE_EXPR, with_alias_only=True)
    batches = _kernel_batches(with_hostile=timeout is not None)
    assert [_flat_is_ascii(b) for b in batches] == [False, True]

    out = {}
    for with_fields in (True, False):
        kernel, ddl = grok_parse_arrow_kernel(
            specs, timeout=timeout, with_fields=with_fields, with_status=True
        )
        assert ddl.startswith("route string, matched boolean")
        out[with_fields] = pa.Table.from_batches(list(kernel(iter(batches))))
    fields, match_only = out[True], out[False]
    assert match_only.column_names == ["route", "matched", "timed_out"]
    for col in ("route", "matched", "timed_out"):
        assert match_only.column(col).equals(fields.column(col)), col
    source = pa.Table.from_batches(batches)
    assert match_only.column("route").equals(source.column("route"))

    expected, timed, want_fields = [], [], []
    for name, tokens in zip(
        source.column("pattern_name").to_pylist(), source.column("tokens").to_pylist()
    ):
        spec = specs.get(name)
        text = None if spec is None or tokens is None else bytes(tokens).decode("utf-8")
        try:
            m = None if text is None else spec.search(text, timeout=timeout)
            timed.append(False)
        except TimeoutError:
            m = None
            timed.append(True)
        expected.append(m is not None)
        want_fields.append(None if m is None else list(spec.match_against(text).items()))
    assert match_only.column("matched").to_pylist() == expected
    assert match_only.column("timed_out").to_pylist() == timed
    assert fields.column("fields").to_pylist() == want_fields
    assert any(expected) and not all(expected)
    assert any(timed) == (timeout is not None)
    if timeout is None:
        # without a timeout the match-only kernel searches with the twins
        rt_for = _router_rt_factory(specs, None, with_fields=False)
        for name, spec in specs.items():
            assert rt_for(name)[0].__self__ is spec.engine.match_pattern(), name


def test_typed_extract_casts(spark, registry):
    """ELB extract tags :int/:float must become long/double columns
    (/root/reference/patterns/aws.pattern:11)."""
    compiled = registry.compile("%{ELB_ACCESS_LOG}", with_alias_only=True)
    assert compiled.extracts["clientport"] == "int"
    line = (
        "2015-05-13T23:39:43.945958Z my-loadbalancer 192.168.131.39:2817 "
        "10.0.0.1:80 0.000073 0.001048 0.000057 200 200 0 29 "
        '"GET https://example.com:443/ HTTP/1.1"'
    )
    df = spark.createDataFrame([(list(line.encode()),)], "tokens array<int>")
    parse = grok_parse_map_udf(compiled, from_tokens=True)
    out = apply_extracts(df.withColumn("fields", parse("tokens")), compiled, "fields")
    schema = dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)
    assert schema["clientport"] == "bigint"
    assert schema["request_processing_time"] == "double"
    row = out.collect()[0]
    assert row["clientport"] == 2817
    assert row["backendport"] == 80
    assert abs(row["request_processing_time"] - 0.000073) < 1e-12
