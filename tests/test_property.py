"""Property-based tests (hypothesis): lexer round-trips, tokenize ∘
detokenize identity, compiler/matcher agreement on randomized inputs."""

from __future__ import annotations

import string

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from grokspark import GrokRegistry, grok_split
from grokspark import compiler as C
from grokspark.pattern_parser import GrokPattern, GrokPatternError, RegularExpression

NAME = st.text(string.ascii_letters + string.digits + "_", min_size=1, max_size=12)
ALIAS = st.text(string.ascii_letters + string.digits + "_-[].", min_size=1, max_size=12)
DEFN = st.text(
    st.characters(blacklist_characters="{}", blacklist_categories=("Cs",)),
    min_size=1,
    max_size=20,
)


@st.composite
def placeholder(draw) -> str:
    name = draw(NAME)
    alias = draw(st.one_of(st.none(), ALIAS))
    extract = draw(st.one_of(st.none(), ALIAS))
    defn = draw(st.one_of(st.none(), DEFN))
    s = "%{" + name
    if alias is not None or extract is not None:
        s += ":" + (alias or "")
    if extract is not None:
        s += ":" + extract
    if defn is not None:
        s += "=" + defn
    s += "}"
    # the grammar disallows an opened-but-empty alias slot with no extract
    if alias is None and extract is None and defn is None:
        return "%{" + name + "}"
    return s


LITERAL = st.text(
    st.characters(blacklist_characters="%{}", blacklist_categories=("Cs",)),
    max_size=15,
)


@given(st.lists(st.one_of(LITERAL, placeholder()), min_size=1, max_size=6))
@settings(max_examples=200, deadline=None)
def test_lexer_roundtrip_reconstructs_input(parts):
    """Any interleaving of safe literals and legal placeholders lexes
    without error and the component spans reconstruct the input."""
    s = "".join(parts)
    try:
        comps = list(grok_split(s))
    except GrokPatternError:
        # an alias slot opened empty (alias drawn as None, extract absent,
        # defn present like "%{n:=d}") is legal-by-construction above, so
        # any error would be a bug — but literals can end with '%' and glue
        # to a following '{', changing the parse. Only allow errors then.
        assert "%" in s
        return
    rebuilt = "".join(
        c.string if isinstance(c, RegularExpression) else c.pattern for c in comps
    )
    assert rebuilt == s
    for c in comps:
        assert s[c.start : c.end] == (
            c.string if isinstance(c, RegularExpression) else c.pattern
        )


@given(st.text(max_size=400))
@settings(max_examples=300, deadline=None)
def test_tokenize_detokenize_identity(text):
    """Byte-level vocab: decode(encode(x)) == x for any unicode text."""
    tokens = list(text.encode("utf-8"))
    assert all(0 <= t <= 255 for t in tokens)
    assert bytes(tokens).decode("utf-8") == text


@given(st.text(string.printable, max_size=60))
@settings(max_examples=200, deadline=None)
def test_greedydata_always_matches(s):
    """%{GREEDYDATA:msg} matches any input with msg == everything up to
    the first \\n (reference GREEDYDATA = .*; PCRE-class `.` excludes
    only \\n — \\r IS matched, hypothesis caught that)."""
    p = GrokRegistry.with_default_patterns().compile("%{GREEDYDATA:msg}")
    m = p.match_against(s)
    assert m is not None
    assert m["msg"] == s.split("\n", 1)[0]


@given(st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]), min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_word_capture_agrees_with_split(words):
    """%{WORD:w} captures exactly the first whitespace token."""
    s = " ".join(words)
    p = GrokRegistry.with_default_patterns().compile("%{WORD:w}", with_alias_only=True)
    assert p.match_against(s) == {"w": words[0]}


@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.binary(min_size=0, max_size=16),
)
@settings(max_examples=150, deadline=None)
def test_png_encode_decode_identity(width, height, seed):
    """Pure-stdlib PNG codec: decode(encode(px)) == px for arbitrary
    RGB content, and the integer luma matches the direct formula."""
    import hashlib

    from grokspark.operators.png import decode_png, encode_png, png_features

    need = width * height * 3
    stream = bytearray()
    counter = 0
    while len(stream) < need:
        stream += hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        counter += 1
    rgb = bytes(stream[:need])
    data = encode_png(width, height, rgb)
    img = decode_png(data)
    assert (img["width"], img["height"], img["channels"]) == (width, height, 3)
    assert img["pixels"] == rgb
    feats = png_features(data)
    want = 299 * sum(rgb[0::3]) + 587 * sum(rgb[1::3]) + 114 * sum(rgb[2::3])
    assert feats["luma_milli"] == want


@given(st.text(max_size=80), st.text(max_size=80))
@settings(max_examples=100, deadline=None)
def test_fake_png_deterministic_and_decodable(key, text):
    from grokspark.operators.png import fake_png, png_features

    p1, p2 = fake_png(key, text), fake_png(key, text)
    assert p1 == p2
    feats = png_features(p1)
    assert 4 <= feats["width"] <= 11 and 4 <= feats["height"] <= 11
    assert 0.0 <= feats["mean_luma"] <= 255.0


@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40
        ),
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_simhash_batch_matches_scalar_reference(texts):
    """The vectorized SimHash kernel (numpy FNV fold + segmented votes)
    must equal the scalar pure-Python reference bit-for-bit on
    arbitrary unicode, including empty docs and whitespace-only text."""
    import numpy as np

    from grokspark.operators.dedup import _fnv1a, _fnv1a_batch, simhash_batch, simhash_py

    got = simhash_batch(texts)
    exp = np.array([simhash_py(t) for t in texts], dtype=np.int64)
    assert (got == exp).all()

    words = [w.encode("utf-8") for t in texts for w in t.lower().split()]
    if words:
        hb = _fnv1a_batch(words)
        he = np.array([_fnv1a(w.decode("utf-8")) for w in words], dtype=np.uint64)
        assert (hb == he).all()


# -- capture-free twin: match-only search is exact ----------------------------


def _drop_last(line: str, chars: str) -> str:
    """``line`` without its last occurrence of any of ``chars`` — a
    closing quote or bracket goes missing, so matching fails late."""
    i = max(line.rfind(c) for c in chars)
    return line if i < 0 else line[:i] + line[i + 1 :]


def _twin_lines() -> list[str]:
    from grokspark.datagen import row_for

    lines = [bytes(row_for(i)["tokens"]).decode("utf-8") for i in range(120)]
    late = [_drop_last(line, "\"]") for line in lines]
    return lines + [x for x in late if x not in lines] + ["", " ", "é ü 中"]


TWIN_LINES = _twin_lines()
_REGISTRY = GrokRegistry.with_default_patterns()
_TWIN_COMPILED: dict = {}


def _compiled(name: str, alias_only: bool):
    key = (name, alias_only)
    if key not in _TWIN_COMPILED:
        _TWIN_COMPILED[key] = _REGISTRY.compile("%{" + name + "}", alias_only)
    return _TWIN_COMPILED[key]


def _assert_twin_agrees(compiled, text: str) -> None:
    eng = compiled.engine
    want = eng.pattern.search(text) is not None
    assert (eng.match_pattern().search(text) is not None) == want, (
        compiled.regex_src[:80],
        text,
    )
    assert compiled.is_match(text) == want


def test_twin_exact_on_every_default_pattern():
    """All 640 default compilations (every builtin, both alias modes):
    none has a group reference, every twin has no groups, and each
    twin matches exactly the datagen lines (and their late-failing
    variants) its capturing pattern matches."""
    for name in sorted(_REGISTRY.patterns):
        for alias_only in (False, True):
            compiled = _compiled(name, alias_only)
            eng = compiled.engine
            C._to_sre_source(compiled.regex_src, capture_free=True, flavor=eng.flavor)
            assert eng.match_pattern().groups == 0, name
            for line in TWIN_LINES:
                _assert_twin_agrees(compiled, line)


@given(
    st.sampled_from(sorted(_REGISTRY.patterns)),
    st.booleans(),
    st.one_of(
        st.text(max_size=80),
        st.text(string.printable, max_size=80),
        st.sampled_from(TWIN_LINES),
        st.tuples(st.sampled_from(TWIN_LINES), st.integers(0, 200)).map(
            lambda t: t[0][: t[1]] + t[0][t[1] + 1 :]
        ),
    ),
)
@settings(max_examples=400, deadline=None)
def test_twin_search_agrees_with_capturing_pattern(name, alias_only, text):
    """Generated text, datagen lines, and lines with one character
    deleted: the twin's ``search`` is None exactly when the capturing
    pattern's is."""
    _assert_twin_agrees(_compiled(name, alias_only), text)


GROUP_REFERENCE_FORMS = [
    r"(?<a>x)\k<a>",
    r"(?<a>x)\g<a>",
    r"(x)\1",
    r"(?P<a>x)(?P=a)",
    r"(?P<a>x)(?P>a)?",
    r"(?<a>x)(?&a)?",
    r"(?<a>x)?(?(a)y|z)",
    r"x(?R)?",
    r"(x)(?1)",
    r"(x)(?0)?",
    r"(?<1>x)",
    r"(?+1)(x)",
    r"(x)(?-1)",
    r"(?|(a)|(b))c",
]


def test_group_references_fall_back_to_the_capturing_pattern():
    """A pattern that refers to a group has no capture-free twin: the
    walker refuses it, and the engine uses the capturing pattern."""
    for src in GROUP_REFERENCE_FORMS:
        for flavor in ("sre", "regex"):
            with pytest.raises(C._HasGroupReference):
                C._to_sre_source(src, capture_free=True, flavor=flavor)
        try:
            eng = C._engine_compile(src, {})
        except C.RegexCompilationFailed:
            continue  # not valid on either engine; the walker check is enough
        assert eng.match_pattern() is eng.pattern, src


def test_capture_free_rewrite_keeps_literals_and_lookarounds():
    def free(src: str, flavor: str = "sre") -> str:
        return C._to_sre_source(src, capture_free=True, flavor=flavor)

    # every capturing form becomes (?: ...
    assert free(r"(?<n>a)(?P<m>b)(c)") == r"(?:a)(?:b)(?:c)"
    # ... literal parens, classes, lookbehinds and other (? forms stay
    assert free(r"\((?<n>x)\)") == r"\((?:x)\)"
    assert free(r"[(](?<n>x)") == r"[(](?:x)"
    assert free(r"x[(?<]y") == r"x[(?<]y"
    assert free(r"[]( ](x)") == r"[]( ](?:x)"
    assert free(r"(?<=a)(?<!b)(?<n>c)") == r"(?<=a)(?<!b)(?:c)"
    assert free(r"(?:a)(?>b)(?=c)(?!d)(?i)e") == r"(?:a)(?>b)(?=c)(?!d)(?i)e"
    # relative flags are not relative group calls
    assert free(r"(?-i:a)(x)") == r"(?-i:a)(?:x)"
    # POSIX classes: sre refuses them, the regex-flavor twin keeps them
    with pytest.raises(C._NotSreExpressible):
        free(r"([[:alpha:]]+)")
    assert free(r"([[:alpha:]]+)", "regex") == r"(?:[[:alpha:]]+)"
