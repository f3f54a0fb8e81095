"""Single-process layer probes, run in a freshly spawned interpreter so
that no compile or engine cache is warm: the grok compiler
(``registry``, ``compile``, first ``.engine``, ``match_against``) and the
``grok_parse_arrow_kernel`` generator driven on in-process Arrow
batches, the single-core baseline of the Spark parse stage."""

from __future__ import annotations

import pickle
import statistics
import time

MATCH_SAMPLE = 2_000
LATEFAIL_SAMPLE = 300
KERNEL_SAMPLE = 10_000
REPEATS = 3


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def probe(data: str, specs_blob: bytes) -> dict:
    """``data``: the workload's log table; ``specs_blob``: pickled
    ``{pattern_name: CompiledPattern}`` (the spec only; unpickling drops
    engine state, as on a Spark worker)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from grokspark import datagen
    from grokspark.compiler import GrokRegistry
    from grokspark.session import ARROW_BATCH_ROWS
    from grokspark.udfs import grok_parse_arrow_kernel

    from perfbench.inputs import LATE_FAIL_EDITS, routes_by_source

    specs = pickle.loads(specs_blob)
    out = {"compiler.engine_s": _timed(lambda: [p.engine for p in specs.values()])}
    registry = None

    def build_registry():
        nonlocal registry
        registry = GrokRegistry.with_default_patterns()

    out["compiler.registry_s"] = _timed(build_registry)
    exprs = datagen.pattern_exprs()
    compiled: dict = {}
    out["compiler.compile_s"] = _timed(
        lambda: compiled.update(
            {n: registry.compile(exprs[n], with_alias_only=True) for n in specs}
        )
    )

    by_source = routes_by_source()
    # the first rows of the table: enough for KERNEL_SAMPLE routed rows
    first = pq.ParquetFile(f"{data}/part-00000.parquet").iter_batches(
        batch_size=KERNEL_SAMPLE * 6 // 5, columns=["source", "tokens"]
    )
    table = next(first)
    rows = [
        (by_source[s], t)
        for s, t in zip(table.column("source").to_pylist(), table.column("tokens").to_pylist())
        if s in by_source
    ][:KERNEL_SAMPLE]
    lines = [(name, bytes(t).decode("utf-8")) for (_r, name), t in rows]
    apache = [
        line
        for name, line in lines
        if name == "pat_apache_access" and not line.endswith("~~")
    ][:LATEFAIL_SAMPLE]
    late = [LATE_FAIL_EDITS[k % len(LATE_FAIL_EDITS)](line) for k, line in enumerate(apache)]
    pat = compiled["pat_apache_access"]
    if any(pat.match_against(line) is not None for line in late):
        raise RuntimeError("a late-fail edit left a matching line")

    def per_line_us(pairs) -> float:
        def run():
            for name, line in pairs:
                compiled[name].match_against(line)

        return statistics.median(_timed(run) for _ in range(REPEATS)) / len(pairs) * 1e6

    out["compiler.match_us"] = per_line_us(lines[:MATCH_SAMPLE])
    out["compiler.latefail_us"] = per_line_us([("pat_apache_access", x) for x in late])

    batch_schema = pa.schema(
        [("route", pa.string()), ("pattern_name", pa.string()), ("tokens", pa.list_(pa.int32()))]
    )
    batches = [
        pa.RecordBatch.from_pylist(
            [
                {"route": r, "pattern_name": n, "tokens": t}
                for (r, n), t in rows[i : i + ARROW_BATCH_ROWS]
            ],
            schema=batch_schema,
        )
        for i in range(0, len(rows), ARROW_BATCH_ROWS)
    ]
    for key, with_fields in (
        ("udfs.kernel_match_only_us", False),
        ("udfs.kernel_fields_us", True),
    ):
        kernel, _ddl = grok_parse_arrow_kernel(compiled, with_fields=with_fields)

        def drain():
            for _ in kernel(iter(batches)):
                pass

        out[key] = statistics.median(_timed(drain) for _ in range(REPEATS)) / len(rows) * 1e6
    out["udfs.kernel_rows_per_s_1core"] = 1e6 / out["udfs.kernel_fields_us"]
    return out


def run_probe(data: str, compiled: dict) -> dict:
    """``probe`` in a fresh spawned interpreter."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    blob = pickle.dumps(compiled)
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as pool:
        return pool.submit(probe, data, blob).result()
