"""Property-based tests (hypothesis) for the numerically-sensitive
operators: exact percentile refinement vs numpy's reference
implementation, and cleaning invariants on arbitrary inputs."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from urban_traffic_data_lake_project_spark.operators import cleaning as C
from urban_traffic_data_lake_project_spark.operators import stats as S

finite_doubles = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


# size-gate caps that send every frame down one path: no estimate is at or
# below -1, and every estimate is at or below Catalyst's Long.MAX_VALUE
# (what a createDataFrame frame reports)
_GATE = {"collect": 2**63 - 1, "digest": -1}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    values=st.lists(finite_doubles, min_size=3, max_size=300),
    p=st.sampled_from([0.01, 0.25, 0.5, 0.75, 0.9, 0.99]),
    regime=st.sampled_from(sorted(_GATE)),
)
def test_exact_quantiles_match_numpy(spark, values, p, regime):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(S, "_QUANTILE_COLLECT_BYTES", _GATE[regime])
        m.setattr(S, "_ACCURACY", 50)  # a coarse sketch: large bracket rank error
        prof = S.column_profile(df, ["x"], [p])
    assert prof.regime == regime
    (got,) = prof.columns["x"].quantiles
    want = float(np.quantile(np.array(values), p, method="linear"))
    assert got == pytest.approx(want, rel=1e-12, abs=1e-9), (len(values), p, regime)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    values=st.lists(
        st.one_of(finite_doubles, st.none()), min_size=5, max_size=200
    ).filter(lambda xs: sum(x is not None for x in xs) >= 4)
)
def test_iqr_clip_invariants(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    bounds = C.compute_iqr_bounds(df, ["x"])
    lo, hi = bounds["x"]
    out = [r["x"] for r in C.iqr_clip(df, ["x"]).collect()]
    n_null_in = sum(v is None for v in values)
    n_null_out = sum(v is None for v in out)
    assert n_null_in == n_null_out  # clip preserves NULLs
    tol = 1e-9 * max(1.0, abs(lo), abs(hi))
    assert all(lo - tol <= v <= hi + tol for v in out if v is not None)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(values=st.lists(st.one_of(finite_doubles, st.none()), min_size=1, max_size=100))
def test_median_fill_leaves_no_nulls_when_any_value(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    filled = C.median_fill(df, ["x"])
    nulls = filled.filter(filled.x.isNull()).count()
    if any(v is not None for v in values):
        assert nulls == 0
    else:
        assert nulls == len(values)  # nothing to fit on — NULLs remain


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    tokens=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=60),
    budget=st.integers(min_value=16, max_value=512),
)
def test_pack_sequences_prefix_invariants(spark, tokens, budget):
    """For any token sizes and budget: seq ids are non-decreasing along
    the pack order, start at 0, and never skip more bins than one
    oversized row can account for."""
    from urban_traffic_data_lake_project_spark.operators.sampling import pack_sequences

    rows = [(0, i, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "shard_id long, chunk_id long, n_tokens long")
    out = sorted(
        pack_sequences(df, "shard_id", "n_tokens", ["chunk_id"], budget).collect(),
        key=lambda r: r["chunk_id"],
    )
    seqs = [r["seq_id"] for r in out]
    assert seqs[0] == 0
    assert all(b >= a for a, b in zip(seqs, seqs[1:]))
    # exact contract: seq_id == floor(exclusive_prefix / budget)
    prefix = 0
    for r, t in zip(out, tokens):
        assert r["seq_id"] == prefix // budget
        prefix += t
    assert [r["seq_pos"] for r in out] == list(range(1, len(tokens) + 1))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n_a=st.integers(min_value=1, max_value=120),
    n_b=st.integers(min_value=1, max_value=120),
    w_a=st.floats(min_value=0.05, max_value=0.95),
)
def test_resample_to_mix_threshold_invariants(spark, n_a, n_b, w_a):
    """For any two-group composition and weights: the binding group is
    kept (nearly) whole, nothing is upsampled, and output is a subset of
    the input chosen purely by id hash."""
    from urban_traffic_data_lake_project_spark.operators.sampling import resample_to_mix

    w = {"a": w_a, "b": 1.0 - w_a}
    rows = [(i, "a") for i in range(n_a)] + [(1000 + i, "b") for i in range(n_b)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = resample_to_mix(df, "lang", "doc_id", w).collect()
    got = {"a": 0, "b": 0}
    in_ids = {r[0] for r in rows}
    for r in out:
        got[r["lang"]] += 1
        assert r["doc_id"] in in_ids
    assert got["a"] <= n_a and got["b"] <= n_b  # never upsample
    # the binding group's threshold is the full resolution -> kept whole
    # (allow one row of slack: float rounding can land the threshold at
    # resolution - 1, dropping a row only if some hash hits that exact cell)
    binding = "a" if n_a / w["a"] <= n_b / w["b"] else "b"
    n_binding = n_a if binding == "a" else n_b
    assert got[binding] >= n_binding - 1


_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(tokens=st.lists(_words, min_size=0, max_size=60))
def test_top_bigram_share_matches_bruteforce(spark, tokens):
    """The linear array_sort+aggregate max-run plan must equal the naive
    Counter-based max bigram count on arbitrary token sequences — guards
    the quadratic-lambda rewrite against off-by-one/tie regressions."""
    from collections import Counter

    from pyspark.sql import functions as F

    from urban_traffic_data_lake_project_spark.operators.text import (
        repetition_signals,
    )

    text = " ".join(tokens)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        repetition_signals(F.col("text"))["top_bigram_share"].alias("s")
    ).collect()[0]["s"]
    if len(tokens) < 2:
        assert got == 0.0
    else:
        counts = Counter(zip(tokens, tokens[1:]))
        want = 2.0 * max(counts.values()) / len(tokens)
        assert got == pytest.approx(want, abs=1e-12)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(tokens=st.lists(_words, min_size=1, max_size=120))
def test_substring_spans_cover_text_exactly(spark, tokens):
    """Window spans with min_span_tokens=1 partition the normalized token
    sequence exactly: concatenating spans in order reproduces it."""
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        substring_spans,
    )

    from collections import Counter

    text = " ".join(tokens)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    spans = substring_spans(
        df, "doc_id", "text", unit="window", window_tokens=7, min_span_tokens=1
    ).collect()
    # spans partition the token sequence: counts add up, every span but
    # (at most) one is exactly window-sized, token multiset is preserved
    assert sum(r["n_toks"] for r in spans) == len(tokens)
    assert len(spans) == -(-len(tokens) // 7)  # ceil
    assert sum(1 for r in spans if r["n_toks"] != 7) <= 1
    got = Counter(w for r in spans for w in r["span"].split(" "))
    assert got == Counter(tokens)


# ---------------------------------------------------------------------------
# Codec round trips (pure Python, no Spark session needed — fast hypothesis)
# ---------------------------------------------------------------------------
@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=400
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_property(samples, rate):
    import numpy as np

    from urban_traffic_data_lake_project_spark.operators import multimodal as MM

    s = np.array(samples, dtype=np.int16)
    dec = MM.wav_decode_pcm16(MM.wav_encode_pcm16(s, rate))
    assert dec is not None
    out_rate, out = dec
    assert out_rate == rate and np.array_equal(out, s)


@given(
    delays=st.lists(st.integers(min_value=0, max_value=65535), min_size=0, max_size=40)
)
@settings(max_examples=60, deadline=None)
def test_gif_roundtrip_property(delays):
    from urban_traffic_data_lake_project_spark.operators import multimodal as MM

    assert MM.gif_parse_frames(MM.gif_encode_frames(delays)) == delays


@given(
    pixels=st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=256),
    width=st.integers(min_value=1, max_value=16),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(pixels, width):
    import numpy as np

    from urban_traffic_data_lake_project_spark.operators import multimodal as MM

    h = max(1, len(pixels) // width)
    flat = (pixels * (h * width // len(pixels) + 1))[: h * width]
    img = np.array(flat, dtype=np.uint8).reshape(h, width)
    dec = MM.png_decode_gray(MM.png_encode_gray(img))
    assert dec is not None
    w2, h2, out = dec
    assert (w2, h2) == (width, h) and np.array_equal(out, img)


@given(
    payload=st.binary(min_size=0, max_size=300),
)
@settings(max_examples=120, deadline=None)
def test_decoders_never_crash_on_garbage(payload):
    """Every byte-level decoder must reject (return None) or parse —
    never raise — on arbitrary input, including truncated magic bytes."""
    from urban_traffic_data_lake_project_spark.operators import multimodal as MM

    for fn in (MM.wav_decode_pcm16, MM.gif_parse_frames, MM.png_decode_gray):
        fn(payload)
        # also with real magic prefixes grafted onto garbage
        for magic in (b"RIFF", b"GIF89a", b"\x89PNG\r\n\x1a\n", b"RIFF1234WAVE"):
            fn(magic + payload)
    MM.parse_media_header(payload)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    values=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=400),
    n_batches=st.integers(min_value=2, max_value=5),
    k=st.sampled_from([8, 32]),
)
def test_kmv_merge_associativity_property(spark, values, n_batches, k):
    """Sketch(union of arbitrary batches) == merge(per-batch sketches),
    for any batch assignment — the exactness that makes per-day sketch
    tables a drop-in for history."""
    from urban_traffic_data_lake_project_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch_table,
    )

    rows = [(i % n_batches, str(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "b int, v string")
    whole = {r["h"] for r in kmv_sketch_table(df, [], "v", k=k).collect()}
    parts = None
    for i in range(n_batches):
        sk = kmv_sketch_table(df.where(f"b = {i}"), [], "v", k=k)
        parts = sk if parts is None else parts.unionAll(sk)
    merged = {r["h"] for r in kmv_merge(parts, [], k=k).collect()}
    assert whole == merged


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=4, max_size=12),
        min_size=2,
        max_size=6,
    )
)
def test_containment_bounds_and_jaccard_relation(spark, docs):
    """0 < containment <= 1 for emitted pairs, and containment(src->dst)
    >= jaccard(src, dst) always (the union can only be bigger than src)."""
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {
        (r["id_src"], r["id_dst"]): r["containment"]
        for r in containment_pairs(df, "doc_id", "text", n=2, threshold=0.0).collect()
    }
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.0).collect()
    }
    for (a, b), c in cont.items():
        assert 0.0 < c <= 1.0
        j = jac.get((min(a, b), max(a, b)), 0.0)
        assert c >= j - 1e-12


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    tokens=st.lists(
        st.sampled_from(["a", "b", "c", "dd", "ee"]), min_size=0, max_size=60
    )
)
def test_repetition_ngram_signals_bruteforce(spark, tokens):
    """All three r12 repetition ratios verified against a Python brute
    force on arbitrary token streams (single-line text, so the line
    signal is trivially 0 unless empty)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from urban_traffic_data_lake_project_spark.operators.text import (
        repetition_ngram_signals,
    )

    text = " ".join(tokens)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    sig = repetition_ngram_signals(F.col("text"))
    row = df.select(
        sig["dup_line_char_frac"].alias("dl"),
        sig["top_trigram_share"].alias("t3"),
        sig["dup_5gram_frac"].alias("d5"),
    ).first()

    n = len(tokens)
    tri = Counter(
        " ".join(tokens[i : i + 3]) for i in range(n - 2)
    )
    want_t3 = (3.0 * max(tri.values())) / n if n >= 3 else 0.0
    g5 = [" ".join(tokens[i : i + 5]) for i in range(n - 4)]
    want_d5 = (len(g5) - len(set(g5))) / len(g5) if n >= 5 else 0.0
    assert row["t3"] == want_t3
    assert row["d5"] == want_d5
    assert 0.0 <= row["dl"] <= 1.0
    assert 0.0 <= row["t3"] <= 3.0  # share can exceed 1 on degenerate streams
    assert 0.0 <= row["d5"] <= 1.0


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    steps=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),          # user
            st.sampled_from(["view", "click", "purchase"]),  # type
            st.integers(min_value=0, max_value=10_000),      # minutes
        ),
        min_size=1,
        max_size=120,
    )
)
def test_funnel_monotone_and_matches_bruteforce(spark, steps):
    """Funnel invariant: reached counts are monotone non-increasing, and
    per-step user counts match a Python brute force of the min-ts
    sequencing semantics."""
    import datetime as dtm

    from urban_traffic_data_lake_project_spark.queries.analytics import funnel_steps

    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dtm.timedelta(minutes=m), u, ty, 1.0)
        for i, (u, ty, m) in enumerate(steps)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["step"]: r for r in funnel_steps(df).collect()}

    by_user: dict[int, dict[str, list]] = {}
    for _, ts, u, ty, _v in rows:
        by_user.setdefault(u, {}).setdefault(ty, []).append(ts)
    n1 = n2 = n3 = 0
    for evs in by_user.values():
        views = evs.get("view")
        if not views:
            continue
        n1 += 1
        t1 = min(views)
        clicks = [t for t in evs.get("click", []) if t >= t1]
        if not clicks:
            continue
        n2 += 1
        t2 = min(clicks)
        purchases = [t for t in evs.get("purchase", []) if t >= t2]
        if purchases:
            n3 += 1
    assert out["view"]["n_users"] == n1
    assert out["click"]["n_users"] == n2
    assert out["purchase"]["n_users"] == n3
    assert n1 >= n2 >= n3
