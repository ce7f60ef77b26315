"""Property-based tests (hypothesis) for the pure engine components —
the 'richer strategy' SURVEY §5 commits to."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from mssql2monetdb_spark.config.spec import interpolate_env
from mssql2monetdb_spark.engine.scheduler import parse_interval
from mssql2monetdb_spark.engine.watermark import Watermark, has_new_data
from mssql2monetdb_spark.schema.mapper import narrow_decimal, normalize_identifier


@given(st.text(min_size=0, max_size=80))
def test_normalize_identifier_idempotent_and_clean(s):
    out = normalize_identifier(s)
    assert normalize_identifier(out) == out  # idempotent
    assert all(c.islower() or c.isdigit() or c == "_" for c in out)


@given(st.integers(min_value=1, max_value=38))
def test_narrow_decimal_capacity(p):
    """The chosen integer type must hold every p-digit value (p <= 18)."""
    t = narrow_decimal(p)
    bounds = {
        "tinyint": 127,
        "smallint": 32767,
        "int": 2147483647,
        "bigint": 9223372036854775807,
    }
    if p <= 18:  # within int64 range the mapping must be lossless
        assert 10**p - 1 <= bounds[t.simpleString()]


@given(st.integers(min_value=1, max_value=10000), st.sampled_from(["minute", "hour", "day"]))
def test_parse_interval_grammar(n, unit):
    assert parse_interval(f"every {n} {unit}s") == n * {"minute": 60, "hour": 3600, "day": 86400}[unit]
    assert parse_interval(f"EVERY {n} {unit}") == parse_interval(f"every {n} {unit}s")


@given(st.integers(), st.integers())
def test_watermark_compare_is_strict_order(a, b):
    wa, wb = Watermark(a, "bigint"), Watermark(b, "bigint")
    assert has_new_data(wa, wb) == (a > b)
    # equal values never trigger (the skip case)
    assert has_new_data(wa, wa) is False


@given(st.datetimes(min_value=datetime(2000, 1, 1), max_value=datetime(2030, 1, 1)),
       st.integers(min_value=0, max_value=10**6))
def test_watermark_timestamp_monotone(ts, delta_s):
    older = Watermark(ts, "timestamp")
    newer = Watermark(ts + timedelta(seconds=delta_s), "timestamp")
    assert has_new_data(newer, older) == (delta_s > 0)


@given(st.dictionaries(st.from_regex(r"[A-Z][A-Z0-9_]{0,10}", fullmatch=True),
                       st.text(max_size=20).filter(lambda s: "}" not in s and "$" not in s)))
def test_env_interpolation_roundtrip(env):
    for var, val in env.items():
        assert interpolate_env(f"pre ${{{var}}} post", env) == f"pre {val} post"
        assert interpolate_env(f"${{{var}:fallback}}", env) == val
    assert interpolate_env("${__UNSET__:dflt}", env) == "dflt"


# --- codec-free decoders: write/parse roundtrips on random payloads --------

from mssql2monetdb_spark.operators.multimodal import (  # noqa: E402
    _decode_ppm,
    _decode_wav,
    _parse_y4m,
)


@given(
    st.integers(min_value=1, max_value=16),
    st.integers(min_value=1, max_value=16),
    st.data(),
)
@settings(max_examples=50)
def test_ppm_roundtrip(w, h, data):
    pixels = bytes(data.draw(st.binary(min_size=w * h * 3, max_size=w * h * 3)))
    content = f"P6\n{w} {h}\n255\n".encode() + pixels
    rw, rh, px = _decode_ppm(content)
    assert (rw, rh) == (w, h)
    assert px.tobytes() == pixels


@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=50)
def test_wav_roundtrip_mono(samples, rate):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    decoded, out_rate = _decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert out_rate == rate and len(decoded) == len(samples)
    assert all(abs(d - s / 32768.0) < 1e-12 for d, s in zip(decoded, samples))


@given(
    st.integers(min_value=1, max_value=8).map(lambda x: x * 2),  # even dims for C420
    st.integers(min_value=1, max_value=8).map(lambda x: x * 2),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=50)
def test_y4m_roundtrip(w, h, n_frames):
    frame_size = w * h * 3 // 2
    frames = [bytes([k % 256]) * frame_size for k in range(n_frames)]
    content = f"YUV4MPEG2 W{w} H{h} F25:1 C420\n".encode() + b"".join(
        b"FRAME\n" + f for f in frames
    )
    rw, rh, out = _parse_y4m(content)
    assert (rw, rh) == (w, h) and out == frames


@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=2, max_value=128),
    st.integers(min_value=1, max_value=128),
)
def test_chunk_count_formula(n_tokens, size, stride):
    """The chunk-count closed form used identically by the Spark query and
    the DuckDB oracle: every token covered, last chunk non-empty, short
    docs yield exactly one chunk."""
    stride = min(stride, size)  # operator contract: stride <= size
    n_chunks = 1 + (max(n_tokens - size, 0) + stride - 1) // stride
    assert n_chunks >= 1
    # the final chunk's window must start at or before the last token
    last_start = (n_chunks - 1) * stride
    assert last_start < n_tokens
    # coverage: the last chunk reaches the end of the document
    assert last_start + size >= n_tokens
    # no superfluous trailing chunk: the second-to-last chunk (if any)
    # must NOT already cover the document
    if n_chunks > 1:
        assert (n_chunks - 2) * stride + size < n_tokens


_URL_CHARS = st.text(
    alphabet=st.sampled_from("abcdefghij0123456789./-_?&=#wW"), min_size=0, max_size=40
)


@given(_URL_CHARS, st.sampled_from(["http://", "https://", "HTTP://", ""]),
       st.sampled_from(["www.", "WWW.", ""]))
def test_normalize_url_invariants(rest, scheme, www):
    """Canonical form is scheme/www/fragment/query/slash-free and
    case-normalized, and equivalent decorated variants of the same URL
    collapse to the same canonical form — the property that makes
    keep-first-per-URL dedup well-defined. (The chain is one fixed regex
    pass over the SHARED pattern list, identical on both engines; it
    deliberately strips only ONE leading www.)"""
    import re

    from mssql2monetdb_spark.operators.corpus_prep import URL_STRIP_RES

    def norm(u: str) -> str:
        out = u.lower()
        for pat in URL_STRIP_RES:
            out = re.sub(pat, "", out)
        return out

    once = norm(scheme + www + rest)
    # the canonical form never keeps a scheme, fragment, query, or trailing /
    assert not re.match(r"^[a-z]+://", once)
    assert "?" not in once and "#" not in once
    assert not once.endswith("/")
    # every scheme/www decoration of the same rest collapses identically
    # (unless rest itself starts with www. — the chain strips only one,
    # by design, so such URLs stay distinct from their stripped form)
    if not rest.lower().startswith("www."):
        variants = {norm(s + w + rest) for s in ("http://", "HTTPS://", "")
                    for w in ("www.", "WWW.", "")}
        assert len(variants) == 1


@settings(max_examples=8, deadline=None)
@given(
    seen=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
    probes=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40),
)
def test_bloom_never_false_negative(spark, seen, probes):
    """For ANY seen-set and probe-set: every probe that was seen reports
    maybe_present — the bloom guarantee that makes it safe as a dedup
    pre-filter (false positives only cost a redundant exact check)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from mssql2monetdb_spark.operators import sketch as sk

    schema = StructType([StructField("k", LongType())])
    seen_df = spark.createDataFrame([(int(x),) for x in seen], schema)
    probe_df = spark.createDataFrame([(int(x),) for x in set(probes)], schema)
    out = {
        r["k"]: r["maybe_present"]
        for r in sk.bloom_probe(sk.bloom_build(seen_df, "k"), probe_df, "k").collect()
    }
    for p in set(probes):
        if p in set(seen):
            assert out[p] is True


# --- .properties adapter (config/properties.py) -----------------------------

_key_chars = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="._-"),
    min_size=1,
    max_size=40,
).filter(lambda s: s[0] not in "#!" and "=" not in s and ":" not in s)

_val_chars = st.text(
    alphabet=st.characters(blacklist_characters="\n\r\\", blacklist_categories=("Cs",)),
    min_size=0,
    max_size=60,
).map(str.strip)


@given(st.dictionaries(_key_chars, _val_chars, min_size=0, max_size=12))
def test_properties_parse_round_trip(d):
    """Serializing a key/value map as `k = v` lines and parsing it back
    yields the same map (modulo the format's key/value trimming)."""
    from mssql2monetdb_spark.config.properties import parse_properties

    text = "\n".join(f"{k} = {v}" for k, v in d.items())
    parsed = parse_properties(text)
    assert parsed == {k.strip(): v for k, v in d.items() if k.strip()}


@given(
    st.text(alphabet=st.characters(whitelist_categories=("Ll", "Lu"), whitelist_characters="_"), min_size=1, max_size=12),
    st.text(alphabet=st.characters(blacklist_characters="{}:\n", blacklist_categories=("Cs",)), max_size=20),
    st.text(alphabet=st.characters(blacklist_characters="{}:\n", blacklist_categories=("Cs",)), max_size=20),
)
def test_reference_env_interpolation_total(var, default, other):
    """ENV:/{env:} interpolation never raises (fail-open like the
    reference) and resolves set > default > empty, in that order."""
    from mssql2monetdb_spark.config.properties import interpolate_reference_env

    assert interpolate_reference_env(f"ENV:{var}:{default}", {var: "X"}) == "X"
    assert interpolate_reference_env(f"ENV:{var}:{default}", {}) == default
    assert interpolate_reference_env(f"ENV:{var}", {}) == ""
    got = interpolate_reference_env(f"pre-{{env:{var}}}-post", {var: other})
    assert got == f"pre-{other}-post"


@settings(max_examples=200)
@given(
    st.integers(min_value=1, max_value=100_000),  # dl: token count
    st.integers(min_value=1, max_value=512),  # size
    st.integers(min_value=1, max_value=512),  # stride (clamped <= size)
)
def test_chunk_overlap_start_formula_covers_exactly(dl, size, stride):
    """The integer start-count formula shared by chunk_overlap and its
    DuckDB oracle — ``1 + floor((dl - size + stride - 1) / stride)`` when
    dl > size, else 1 — yields starts that (a) cover every token index,
    (b) are minimal (dropping the last chunk uncovers the tail), and
    (c) keep both division operands positive so FLOOR == truncate ==
    DuckDB ``//``."""
    stride = min(stride, size)
    if dl <= size:
        n_starts = 1
    else:
        assert dl - size + stride - 1 > 0  # positive operands guarantee
        n_starts = 1 + (dl - size + stride - 1) // stride
    starts = [i * stride + 1 for i in range(n_starts)]  # 1-based
    # coverage: the last chunk reaches the final token
    assert starts[-1] + size - 1 >= dl
    # minimality: one fewer chunk would leave the tail uncovered
    if n_starts > 1:
        assert starts[-2] + size - 1 < dl
    # every chunk is non-empty (its start is inside the document)
    assert all(s <= dl for s in starts)
