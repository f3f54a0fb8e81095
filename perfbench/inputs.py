"""Seeded benchmark inputs and their pure-Python references.

Every input is a pure function of the seed, written once per seed under
the cache directory and reused by later runs with the same seed. The
reference answer of each input is computed in the same pass, by code
that shares nothing with the Spark plan under test beyond the grok
compiler's ``match_against`` and the operators' single-process twins.

Log tables (``counts_mixed``, ``sinks_fanout``) are rows
``datagen.row_for(i)`` for ``i`` in ``[seed * SEED_STRIDE,
seed * SEED_STRIDE + rows)``: the row function ``sequences_df``
renders, generated here in a process pool so that the benchmark's JVM
runs no job before the timed cold iteration. They are written as
``LOG_FILES`` parquet files.

The document table (the operators layer of ``sinks_fanout``) is
``DOCS`` documents in one parquet file with one row group (a single
input split), built from a fixed base corpus whose words of four or
more letters get a seed-derived suffix. The rewrite maps words one-to-one and leaves every
stopword alone, so the quality features and the near-duplicate graph
are the same for every seed while the BPE vocabulary is fresh.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import random
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from grokspark import datagen
from grokspark.compiler import GrokRegistry

LOG_FILES = 4
# row-index range reserved per seed; rows <= SEED_STRIDE keeps the
# tables of different seeds disjoint
SEED_STRIDE = 10_000_000

# half of q_corpus_prepare's 5,000 at sf0.1: the warm-up and the three
# prefixes of the operators split keep the traced sinks_fanout run
# within its time limit on a slow box
DOCS = 2_500
# q_corpus_prepare's parameters
CORPUS_PARAMS = {"max_len": 256, "n_buckets": 8, "n_merges": 120}

SEQUENCES_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


# -- late-failing edits -------------------------------------------------------
# Each edit breaks one delimiter that %{HTTPD_COMBINEDLOG} needs near the
# end of its match, so the regex backtracks through most of the line
# before it gives up (no match anywhere in the line). micro.py applies
# them to a sample of the table's lines for ``compiler.latefail_us``.


def _drop_request_open_quote(line: str) -> str:
    return line.replace('] "', "] _", 1)


def _drop_request_close_quote(line: str) -> str:
    return line.replace(' HTTP/1.1" ', " HTTP/1.1 ", 1)


def _drop_agent_close_quote(line: str) -> str:
    return line[:-1] if line.endswith('"') else line


LATE_FAIL_EDITS = (
    _drop_request_open_quote,
    _drop_request_close_quote,
    _drop_agent_close_quote,
)


def routes_by_source() -> dict[str, tuple[str, str]]:
    """source -> (route, pattern_name) of the routes dimension."""
    return {r["source"]: (r["route"], r["pattern_name"]) for r in datagen.routes_rows()}


def compiled_routes(registry: GrokRegistry | None = None) -> dict:
    """pattern_name -> (route, CompiledPattern) with the pipeline's
    default alias-only compile."""
    registry = registry or GrokRegistry.with_default_patterns()
    exprs = datagen.pattern_exprs()
    return {
        r["pattern_name"]: (
            r["route"],
            registry.compile(exprs[r["pattern_name"]], with_alias_only=True),
        )
        for r in datagen.routes_rows()
    }


def _log_chunk(args) -> dict:
    """Pool worker: write one parquet file of the log table and return
    its reference counts keyed ``route|pattern_name|matched``."""
    start, n, path = args
    routes = compiled_routes()
    by_source = routes_by_source()
    doc_ids, tokens, n_tok, sources = [], [], [], []
    counts: dict[str, int] = {}
    stats = {"rows": 0, "apache": 0, "unroutable": 0}
    for i in range(start, start + n):
        row = datagen.row_for(i)
        source = row["source"]
        line = bytes(row["tokens"]).decode("utf-8")
        doc_ids.append(row["doc_id"])
        tokens.append(row["tokens"])
        n_tok.append(row["n_tok"])
        sources.append(source)
        stats["rows"] += 1
        stats["apache"] += source == "apache_access"
        if source not in by_source:
            stats["unroutable"] += 1
            continue
        route, name = by_source[source]
        compiled = routes[name][1]
        key = f"{route}|{name}|{compiled.match_against(line) is not None}"
        counts[key] = counts.get(key, 0) + 1
    table = pa.table([doc_ids, tokens, n_tok, sources], schema=SEQUENCES_SCHEMA)
    pq.write_table(table, path)
    return {"counts": counts, "stats": stats}


def _merge(parts: list[dict]) -> dict:
    counts: dict[str, int] = {}
    stats: dict[str, int] = {}
    for p in parts:
        for k, v in p["counts"].items():
            counts[k] = counts.get(k, 0) + v
        for k, v in p["stats"].items():
            stats[k] = stats.get(k, 0) + v
    return {"counts": counts, "stats": stats}


def ensure_logs(cache: Path, seed: int, rows: int) -> tuple[Path, dict]:
    """The seed's ``rows``-row log table (``LOG_FILES`` files) and its
    reference: ``{"counts": {"route|pattern|matched": n}, "stats": {...}}``."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    path = cache / f"logs-{rows}-{seed}"
    ref_file = path / "reference.json"
    if ref_file.exists():
        return path / "data", json.loads(ref_file.read_text())
    data = path / "data"
    data.mkdir(parents=True, exist_ok=True)
    per = -(-rows // LOG_FILES)
    start = seed * SEED_STRIDE
    jobs = [
        (start + k * per, min(per, rows - k * per), str(data / f"part-{k:05d}.parquet"))
        for k in range(LOG_FILES)
    ]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(LOG_FILES, os.cpu_count() or 1)) as pool:
        ref = _merge(pool.map(_log_chunk, jobs))
        pool.close()
        pool.join()
    tmp = ref_file.with_suffix(".tmp")
    tmp.write_text(json.dumps(ref, sort_keys=True))
    os.replace(tmp, ref_file)
    return data, ref


def route_counts(ref: dict) -> dict[tuple[str, bool], int]:
    """Reference ``route_match_counts`` rows: (route, matched) -> n."""
    out: dict[tuple[str, bool], int] = {}
    for key, n in ref["counts"].items():
        route, _name, matched = key.split("|")
        k = (route, matched == "True")
        out[k] = out.get(k, 0) + n
    return out


# -- documents ------------------------------------------------------------------

_STOP = ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"]
_WORD4 = re.compile(r"[A-Za-z0-9]{4,}")


def _vocab() -> list[str]:
    rng = random.Random("perfbench:vocab")
    onsets = "b c d f g h k l m n p r s t v w z br ch st tr".split()
    vowels = "a e i o u ai ea oo".split()
    words: set[str] = set()
    while len(words) < 600:
        words.add(
            "".join(
                rng.choice(onsets) + rng.choice(vowels)
                for _ in range(rng.randint(2, 3))
            )
        )
    return sorted(words)


def _fresh_text(j: int, vocab: list[str]) -> str:
    rng = random.Random(f"perfbench:doc:{j}")
    return " ".join(
        rng.choice(_STOP) if rng.random() < 0.12 else rng.choice(vocab)
        for _ in range(rng.randint(10, 100))
    )


def base_docs(n: int = DOCS) -> list[tuple[int, str]]:
    """The fixed base corpus: 90% fresh documents, 7% near copies of an
    earlier document (one or two words replaced, or ``dup`` appended)
    and 3% exact copies up to case and spacing."""
    vocab = _vocab()
    docs = []
    for j in range(n):
        rng = random.Random(f"perfbench:kind:{j}")
        u = rng.random()
        if j == 0 or u >= 0.10:
            text = _fresh_text(j, vocab)
        else:
            words = _fresh_text(rng.randrange(j), vocab).split()
            if u < 0.03:
                text = "  ".join(words).upper()
            elif rng.random() < 0.5:
                text = " ".join(words + ["dup"])
            else:
                for _ in range(rng.randint(1, 2)):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                text = " ".join(words)
        docs.append((j, text))
    return docs


def seed_suffix(seed: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = "q"
    while True:
        seed, r = divmod(seed, 26)
        out += letters[r]
        if seed == 0:
            return out


def rewrite_docs(docs: list[tuple[int, str]], seed: int) -> list[tuple[int, str]]:
    suffix = seed_suffix(seed)
    return [(i, _WORD4.sub(lambda m: m.group(0) + suffix, t)) for i, t in docs]


def corpus_aggregates(rows: list[dict]) -> dict[str, list[int]]:
    """q_corpus_prepare's per-split aggregates of packed rows:
    split -> [n_packs, n_docs, sum_tok, max_tok, n_truncated]."""
    agg: dict[str, list[int]] = {}
    for r in rows:
        a = agg.setdefault(r["split"], [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += r["n_docs"]
        a[2] += r["n_tok"]
        a[3] = max(a[3], r["n_tok"])
        a[4] += r["n_truncated"]
    return agg


def ensure_docs(cache: Path, seed: int) -> tuple[Path, dict]:
    """The seed's document table (one file) and its reference
    aggregates from ``prepare_corpus_py``."""
    from grokspark.operators.corpus import prepare_corpus_py

    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    path = cache / f"docs-{DOCS}-{seed}"
    ref_file = path / "reference.json"
    if ref_file.exists():
        return path / "data", json.loads(ref_file.read_text())
    data = path / "data"
    data.mkdir(parents=True, exist_ok=True)
    docs = rewrite_docs(base_docs(), seed)
    table = pa.table(
        [[i for i, _ in docs], [t for _, t in docs]], schema=DOCS_SCHEMA
    )
    pq.write_table(table, data / "documents.parquet", row_group_size=DOCS)
    ref = {
        "aggregates": corpus_aggregates(prepare_corpus_py(docs, **CORPUS_PARAMS)),
        "stats": {"rows": len(docs)},
    }
    tmp = ref_file.with_suffix(".tmp")
    tmp.write_text(json.dumps(ref, sort_keys=True))
    os.replace(tmp, ref_file)
    return data, ref
