"""Vectorized executor-side kernels: detokenize + grok parse as
Arrow-batched pandas UDFs.

The reference matches row-at-a-time in native code
(/root/reference/src/lib.rs:100-105). Our scale lever is batching: the
JVM ships Arrow record batches to a Python worker, the worker runs the
compiled regex per row inside the batch, and one Arrow batch comes
back. The compiled pattern travels as a small picklable spec inside the
UDF closure and is engine-compiled once per worker process
(see grokspark.compiler._ENGINE_CACHE).

Three result shapes, chosen by what the caller reads:

- ``map<string,string>`` of *participating* captures only, NULL on
  whole-line no-match (``grok_parse_map_udf``, the multi-pattern
  ``grok_parse_router_udf`` / ``grok_parse_router_status_udf`` of the
  sink path, and ``grok_parse_arrow_kernel`` with ``with_fields=True``).
  This mirrors the reference API exactly (``match_against`` returning
  ``Option<Matches>``, ``Matches::iter()`` yielding participating
  groups): a 163-capture pattern with 9 participating groups ships 9
  map entries, not 163 mostly-null struct fields.

- a struct with one nullable StringType field per capture key plus a
  ``_matched`` boolean (``grok_parse_struct_udf``). Schema-on-parse for
  downstream SQL.

- a match flag only (``grok_match_udf``, and ``grok_parse_arrow_kernel``
  with ``with_fields=False``, which the counts headline
  ``route_match_counts`` runs). These search with the pattern's
  capture-free twin (``_EnginePattern.match_pattern``, also behind
  ``CompiledPattern.is_match``), which matches exactly when the
  capturing pattern does but records no groups, and they build no maps.

Every parse kernel can take the ``array<int32>`` (byte-level vocab)
tokens and decode them to text inside the same kernel, so
detokenize+parse costs a single JVM<->Python round trip and the
rendered line never materializes in the JVM.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from grokspark.compiler import CompiledPattern

__all__ = [
    "detokenize_udf",
    "grok_parse_map_udf",
    "grok_parse_struct_udf",
    "grok_parse_router_udf",
    "grok_parse_router_status_udf",
    "grok_parse_arrow_kernel",
    "grok_match_udf",
    "parse_struct_type",
    "apply_extracts",
    "EXTRACT_CASTS",
]

# Reference extract tags observed in the pattern corpus (`int`, `float`,
# e.g. /root/reference/patterns/aws.pattern:11) mapped to Spark types.
# Unknown tags (e.g. `text`) stay strings.
EXTRACT_CASTS: dict[str, T.DataType] = {
    "int": T.LongType(),
    "float": T.DoubleType(),
}

MATCHED_FIELD = "_matched"


def _validate_timeout(timeout: Optional[float]) -> Optional[float]:
    """Every kernel factory funnels through this so ``timeout=0`` cannot
    mean 'no timeout' on one path and 'instant TimeoutError' on another
    — positive seconds or None, no third meaning."""
    if timeout is not None and timeout <= 0:
        raise ValueError(f"timeout must be positive seconds or None, got {timeout}")
    return timeout


def _tokens_to_text(tokens) -> Optional[str]:
    """array<int32> byte-level token ids -> str (UTF-8)."""
    if tokens is None:
        return None
    return (
        np.asarray(tokens)
        .astype(np.uint8, copy=False)
        .tobytes()
        .decode("utf-8", errors="replace")
    )


def detokenize_udf() -> "pandas_udf":
    """``array<int32> -> string`` render UDF (byte-level vocab)."""

    @pandas_udf(T.StringType())
    def detokenize(tokens: pd.Series) -> pd.Series:
        return tokens.map(_tokens_to_text)

    return detokenize


def _match_dict(compiled: CompiledPattern, text: Optional[str], timeout: Optional[float]):
    """One row: participating-captures dict, or None on no-match.
    Delegates to the documented parity API (CompiledPattern.
    match_against — timeout expiry is no-match there too) so the Spark
    kernels cannot drift from the single-row reference surface."""
    return None if text is None else compiled.match_against(text, timeout=timeout)


def grok_parse_map_udf(
    compiled: CompiledPattern,
    from_tokens: bool = False,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Parse UDF returning ``map<string,string>`` of participating
    captures (NULL = whole-line no-match, the reference's None).

    ``from_tokens=True`` makes the input ``array<int32>`` and fuses the
    detokenize step into the same kernel (one Arrow round trip).
    ``timeout`` (seconds) bounds catastrophic backtracking per row; a
    timeout is treated as no-match (documented deviation, off by
    default for reference parity).
    """
    timeout = _validate_timeout(timeout)

    if from_tokens:

        @pandas_udf(T.MapType(T.StringType(), T.StringType()))
        def parse(tokens: pd.Series) -> pd.Series:
            return tokens.map(
                lambda t: _match_dict(compiled, _tokens_to_text(t), timeout)
            )

        return parse

    @pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def parse(lines: pd.Series) -> pd.Series:
        return lines.map(lambda s: _match_dict(compiled, s, timeout))

    return parse


def parse_struct_type(compiled: CompiledPattern) -> T.StructType:
    """Output schema of the struct parse UDF: one nullable string field
    per capture key (sorted, reference BTreeMap order) + ``_matched``."""
    fields = [
        T.StructField(name, T.StringType(), nullable=True)
        for name in compiled.capture_names
    ]
    fields.append(T.StructField(MATCHED_FIELD, T.BooleanType(), nullable=False))
    return T.StructType(fields)


def grok_parse_struct_udf(
    compiled: CompiledPattern,
    from_tokens: bool = False,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Parse UDF returning a struct column: every capture key as a
    nullable string field (NULL = group did not participate or line did
    not match) plus ``_matched`` boolean."""
    timeout = _validate_timeout(timeout)
    spec = compiled  # picklable as-is: __getstate__ drops engine state
    schema = parse_struct_type(compiled)
    names = list(compiled.capture_names)
    none_row = tuple([None] * len(names)) + (False,)

    def _batch(texts: Iterable[Optional[str]]) -> pd.DataFrame:
        eng = spec.engine
        indices = eng.indices
        single = len(indices) == 1
        rows = []
        for s in texts:
            try:
                m = spec.search(s, timeout=timeout) if s is not None else None
            except TimeoutError:
                m = None
            if m is None:
                rows.append(none_row)
            elif not indices:
                rows.append((True,))
            else:
                vals = m.group(*indices)
                rows.append(((vals,) if single else vals) + (True,))
        return pd.DataFrame(rows, columns=names + [MATCHED_FIELD])

    if from_tokens:

        @pandas_udf(schema)
        def parse(tokens: pd.Series) -> pd.DataFrame:
            return _batch(_tokens_to_text(t) for t in tokens)

        return parse

    @pandas_udf(schema)
    def parse(lines: pd.Series) -> pd.DataFrame:
        return _batch(lines)

    return parse


def _router_rt_factory(
    specs: dict, timeout: Optional[float], with_fields: bool = True
):
    """Per-worker lazy engine compile: pattern name -> hot tuple
    (search fn, group indices, sorted keys), or False for unknown/NULL
    pattern names (unroutable rows). Shared by the router UDFs and the
    Arrow kernel so timeout/no-match semantics cannot drift between
    them. ``with_fields=False`` searches with the capture-free twin; a
    timeout always goes through the reference engine's capturing
    pattern, so a row times out on the same pattern in both modes."""
    runtime: dict = {}

    def rt_for(name):
        rt = runtime.get(name)
        if rt is None:
            spec = specs.get(name)
            if spec is None:
                runtime[name] = False
                return False
            eng = spec.engine
            if timeout:
                pat = eng.timeout_pattern()
            else:
                pat = eng.pattern if with_fields else eng.match_pattern()
            rt = (pat.search, eng.indices, eng.sorted_names)
            runtime[name] = rt
        return rt

    return rt_for


def _route_one(rt, text: Optional[str], timeout: Optional[float]):
    """One routed row -> (participating-captures dict | None, timed_out).
    None fields = unroutable, NULL text, no-match, or timeout."""
    if rt is False or text is None:
        return None, False
    search, indices, keys = rt
    try:
        m = search(text, timeout=timeout) if timeout else search(text)
    except TimeoutError:
        return None, True
    if m is None:
        return None, False
    if not indices:
        return {}, False
    values = m.group(*indices)
    if len(indices) == 1:
        values = (values,)
    return {k: v for k, v in zip(keys, values) if v is not None}, False


def grok_parse_router_udf(
    compiled_by_name: dict[str, CompiledPattern],
    from_tokens: bool = True,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Single-pass multi-pattern parse: ``(pattern_name, tokens|line) ->
    map<string,string>``. One scan + one shuffle for the whole corpus
    instead of one per pattern — each row is parsed with the pattern its
    route dim entry names. Rows whose pattern_name is NULL/unknown get a
    NULL map (unroutable); a per-row timeout is a NULL map too (use the
    status variant to count timeouts distinctly)."""
    timeout = _validate_timeout(timeout)
    specs = compiled_by_name  # picklable as-is (engine state dropped)

    @pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def parse(pattern_names: pd.Series, payload: pd.Series) -> pd.Series:
        rt_for = _router_rt_factory(specs, timeout)
        decode = _tokens_to_text
        out = []
        for name, data in zip(pattern_names, payload):
            rt = rt_for(name)
            text = (decode(data) if from_tokens else data) if rt is not False else None
            fields, _timed = _route_one(rt, text, timeout)
            out.append(fields)
        return pd.Series(out, dtype=object)

    return parse


def grok_parse_router_status_udf(
    compiled_by_name: dict[str, CompiledPattern],
    from_tokens: bool = True,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Router parse with timeout observability: returns
    ``struct<fields: map<string,string>, timed_out: boolean>``. A row
    whose regex timed out has ``fields = NULL`` (counts as unmatched,
    same as the plain router) AND ``timed_out = true``, so pipelines can
    report timeouts distinctly from genuine no-matches in lineage."""
    timeout = _validate_timeout(timeout)
    specs = compiled_by_name
    schema = T.StructType(
        [
            T.StructField(
                "fields", T.MapType(T.StringType(), T.StringType()), nullable=True
            ),
            T.StructField("timed_out", T.BooleanType(), nullable=False),
        ]
    )

    @pandas_udf(schema)
    def parse(pattern_names: pd.Series, payload: pd.Series) -> pd.DataFrame:
        rt_for = _router_rt_factory(specs, timeout)
        decode = _tokens_to_text
        fields_out: list = []
        timed_out: list = []
        for name, data in zip(pattern_names, payload):
            rt = rt_for(name)
            text = (decode(data) if from_tokens else data) if rt is not False else None
            fields, timed = _route_one(rt, text, timeout)
            fields_out.append(fields)
            timed_out.append(timed)
        return pd.DataFrame({"fields": fields_out, "timed_out": timed_out})

    return parse


def _line_texts(flat: bytes, offsets: list[int]) -> list[str]:
    """Every row's text from one flat byte buffer and its row offsets.
    An all-ASCII buffer is decoded once and sliced as ``str``;
    otherwise each row decodes its own slice, with invalid UTF-8 bytes
    replaced as in ``_tokens_to_text``."""
    bounds = zip(offsets[:-1], offsets[1:])
    if flat.isascii():
        text = flat.decode("ascii")
        return [text[a:b] for a, b in bounds]
    return [flat[a:b].decode("utf-8", errors="replace") for a, b in bounds]


def grok_parse_arrow_kernel(
    compiled_by_name: dict[str, CompiledPattern],
    timeout: Optional[float] = None,
    with_fields: bool = True,
    with_status: bool = False,
):
    """mapInArrow kernel: the fastest parse path.

    The pandas bridge materializes one numpy array per row for the
    ``tokens`` column (list<int32>), which costs more than the regex
    match itself. Arrow batches expose the same data as ONE flat values
    buffer + offsets, so this kernel decodes a batch with one
    ``decode`` when the buffer is ASCII (one per row otherwise) and
    never builds per-row arrays. The ``route`` column passes through
    as the same Arrow array.

    ``with_fields=False`` is the match-only kernel: it searches with
    each pattern's capture-free twin (``_EnginePattern.match_pattern``)
    and builds no ``fields`` maps. Its ``matched`` column equals the
    ``with_fields=True`` one.

    Input batch columns:  route, pattern_name, tokens (list<int32>)
    Output batch columns: route string, matched boolean
                          [+ fields map<string,string> if with_fields]
                          [+ timed_out boolean if with_status]

    Returns ``(kernel, ddl_schema_string)`` for
    ``DataFrame.mapInArrow(kernel, ddl)``.
    """
    import pyarrow as pa

    timeout = _validate_timeout(timeout)
    specs = compiled_by_name
    out_fields = [
        pa.field("route", pa.string()),
        pa.field("matched", pa.bool_()),
    ]
    ddl = "route string, matched boolean"
    if with_fields:
        out_fields.append(pa.field("fields", pa.map_(pa.string(), pa.string())))
        ddl += ", fields map<string,string>"
    if with_status:
        out_fields.append(pa.field("timed_out", pa.bool_()))
        ddl += ", timed_out boolean"
    out_schema = pa.schema(out_fields)

    def kernel(batches):
        rt_for = _router_rt_factory(specs, timeout, with_fields)

        for batch in batches:
            tokens = batch.column(batch.schema.get_field_index("tokens"))
            if isinstance(tokens, pa.ChunkedArray):
                tokens = tokens.combine_chunks()
            # flatten list<int32> -> one contiguous byte buffer + offsets
            offsets = tokens.offsets.to_numpy(zero_copy_only=False).tolist()
            flat = (
                tokens.values.to_numpy(zero_copy_only=False)
                .astype(np.uint8, copy=False)
                .tobytes()
            )
            texts = _line_texts(flat, offsets)
            if tokens.null_count:
                # NULL tokens entries must parse as no-match, not as ''
                # (the flat buffer slice of a null list element is
                # empty, and patterns like bare GREEDYDATA match empty
                # text)
                valid = tokens.is_valid().to_numpy(zero_copy_only=False)
                for i in np.flatnonzero(~valid).tolist():
                    texts[i] = None
            names = batch.column("pattern_name").to_pylist()

            matched = np.zeros(len(batch), dtype=bool)
            timed = np.zeros(len(batch), dtype=bool) if with_status else None
            fields_out = [] if with_fields else None
            for i, (name, text) in enumerate(zip(names, texts)):
                rt = rt_for(name)
                if rt is False or text is None:
                    if with_fields:
                        fields_out.append(None)
                    continue
                search, indices, keys = rt
                try:
                    m = (
                        search(text, timeout=timeout) if timeout else search(text)
                    )
                except TimeoutError:
                    if with_status:
                        timed[i] = True
                    if with_fields:
                        fields_out.append(None)
                    continue
                if m is None:
                    if with_fields:
                        fields_out.append(None)
                    continue
                matched[i] = True
                if with_fields:
                    if indices:
                        values = m.group(*indices)
                        if len(indices) == 1:
                            values = (values,)
                        fields_out.append(
                            [
                                (k, v)
                                for k, v in zip(keys, values)
                                if v is not None
                            ]
                        )
                    else:
                        fields_out.append([])

            # zero-copy for string; also accepts large_string routes
            # (spark.sql.execution.arrow.useLargeVarTypes)
            cols = [batch.column("route").cast(pa.string()), pa.array(matched)]
            if with_fields:
                cols.append(pa.array(fields_out, pa.map_(pa.string(), pa.string())))
            if with_status:
                cols.append(pa.array(timed))
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    return kernel, ddl


def grok_match_udf(
    compiled: CompiledPattern,
    from_tokens: bool = False,
    timeout: Optional[float] = None,
) -> "pandas_udf":
    """Boolean match test — cheapest kernel for pure routing/filtering:
    it runs the pattern's capture-free twin (``CompiledPattern.
    is_match``), so no captures are recorded. A timeout is False."""
    timeout = _validate_timeout(timeout)
    spec = compiled

    def _one(s: Optional[str]) -> bool:
        if s is None:
            return False
        try:
            return spec.is_match(s, timeout=timeout)
        except TimeoutError:
            return False

    if from_tokens:

        @pandas_udf(T.BooleanType())
        def matches(tokens: pd.Series) -> pd.Series:
            return pd.Series([_one(_tokens_to_text(t)) for t in tokens])

        return matches

    @pandas_udf(T.BooleanType())
    def matches(lines: pd.Series) -> pd.Series:
        return lines.map(_one)

    return matches


def apply_extracts(
    df: DataFrame,
    compiled: CompiledPattern,
    fields_col: str = "fields",
) -> DataFrame:
    """Materialize typed columns for the pattern's extract tags
    (reference: the caller-side cast driven by Pattern::get_extract,
    /root/reference/src/lib.rs:115-117). JVM-side columnar casts —
    no Python involved.

    For a map fields column: ``element_at(fields, key)``; for a struct
    fields column: ``fields.getField(key)``.
    """
    is_map = isinstance(df.schema[fields_col].dataType, T.MapType)
    col = F.col(fields_col)
    out = df
    for key, tag in sorted(compiled.extracts.items()):
        dtype = EXTRACT_CASTS.get(tag)
        if dtype is None:
            continue
        raw: Column = F.element_at(col, key) if is_map else col.getField(key)
        out = out.withColumn(key, raw.cast(dtype))
    return out
