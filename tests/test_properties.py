"""Property-based tests (hypothesis) for the pure parsing/codegen helpers —
deeper than the reference's example-based tests (SURVEY.md §5)."""

from __future__ import annotations

import math
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_2_7_1_spark.functions import sql_regex
from hadoop_2_7_1_spark.operators import fieldsel, keyfield


@given(st.lists(st.integers(0, 50), min_size=1, max_size=8))
def test_field_list_single_fields_roundtrip(nums):
    spec = ",".join(str(n) for n in nums)
    assert fieldsel.parse_field_list(spec) == [(n, n) for n in nums]


@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=5))
def test_field_list_ranges(pairs):
    spec = ",".join(f"{a}-{b}" for a, b in pairs)
    assert fieldsel.parse_field_list(spec) == [(a, b) for a, b in pairs]


@given(
    st.lists(
        st.tuples(st.integers(1, 20), st.booleans(), st.booleans()),
        min_size=1,
        max_size=6,
    )
)
def test_keyfield_spec_roundtrip(fields):
    spec = ",".join(
        f"{n}{'n' if num else ''}{'r' if rev else ''}" for n, num, rev in fields
    )
    assert keyfield.parse_sort_spec(spec) == [
        (n, num, rev) for n, num, rev in fields
    ]


@given(st.text(alphabet="abc\\sd+*.[]()|^$", max_size=20))
def test_sql_regex_doubles_every_backslash(pat):
    out = sql_regex(pat)
    # unescaping once must give back the original pattern
    assert out.replace("\\\\", "\\") == pat
    # and the escaped form never contains a lone backslash
    assert re.fullmatch(r"(?:[^\\]|\\\\)*", out)


@given(
    st.lists(st.floats(0, 1, allow_nan=False), max_size=60),
    st.lists(st.floats(0, 1, allow_nan=False), max_size=60),
    st.integers(1, 16),
)
def test_kmv_merge_equals_sketch_of_union(a, b, k):
    """The property that makes KMV a sketch: merging per-partition sketches
    gives exactly the sketch of the union — so partial aggregation is
    lossless."""
    from hadoop_2_7_1_spark.operators.sketches import merge_kmv

    sk_a = sorted(set(a))[:k]
    sk_b = sorted(set(b))[:k]
    assert merge_kmv([sk_a, sk_b], k) == sorted(set(a) | set(b))[:k]


# ---------------------------------------------------------------------------
# Round-3 pure codecs: PNG / GIF-LZW / WAV / vlong — property round-trips
# ---------------------------------------------------------------------------

@given(
    st.integers(1, 24),
    st.integers(1, 24),
    st.sampled_from([1, 3, 4]),
    st.randoms(use_true_random=False),
)
@settings(max_examples=30, deadline=None)
def test_png_roundtrip_property(w, h, ch, rnd):
    from hadoop_2_7_1_spark.operators import multimodal

    px = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    blob = multimodal.png_encode(w, h, ch, px)
    assert multimodal.parse_image_header(blob) == ("png", w, h)
    dw, dh, dch, dpx = multimodal.png_decode(blob)
    assert (dw, dh, dch, bytes(dpx)) == (w, h, ch, px)


@given(
    st.integers(1, 16),
    st.integers(1, 16),
    st.integers(1, 4),
    st.randoms(use_true_random=False),
)
@settings(max_examples=25, deadline=None)
def test_gif_animation_roundtrip_property(w, h, n_frames, rnd):
    from hadoop_2_7_1_spark.operators import multimodal

    frames = [
        bytes(rnd.randrange(256) for _ in range(w * h)) for _ in range(n_frames)
    ]
    gif = multimodal.make_gif_animated(frames, w, h)
    dec = multimodal.gif_decode_frames(gif)
    assert len(dec) == n_frames
    for k, (fw, fh, px) in enumerate(dec):
        assert (fw, fh) == (w, h)
        assert bytes(px) == frames[k]


@given(st.lists(st.integers(-32768, 32767), min_size=0, max_size=300))
@settings(max_examples=30, deadline=None)
def test_wav_roundtrip_property(samples):
    from hadoop_2_7_1_spark.operators import multimodal

    wav = multimodal.make_wav(samples, rate=22050)
    rate, ch, bits, back = multimodal.parse_wav(wav)
    assert (rate, ch, bits) == (22050, 1, 16)
    assert back == samples


@given(st.integers(-(2**62), 2**62))
@settings(max_examples=200, deadline=None)
def test_hadoop_vlong_roundtrip_property(i):
    from hadoop_2_7_1_spark.sources import seqfile

    buf = seqfile.write_vlong(i)
    val, pos = seqfile.read_vlong(buf, 0)
    assert val == i and pos == len(buf)


def test_png_decode_corrupt_input_returns_none():
    """Crawl-data contract: corrupt PNGs are skipped (None), never
    task-fatal — bad IDAT zlib, truncated pixel data, short IHDR."""
    from hadoop_2_7_1_spark.operators import multimodal

    good = multimodal.make_png_with_pixels(8, 6, seed=3)
    assert multimodal.png_decode(good) is not None

    # bad zlib stream inside a structurally valid chunk layout
    bad_idat = bytearray(good)
    # find IDAT and trash its payload
    i = bad_idat.find(b"IDAT")
    bad_idat[i + 4 : i + 12] = b"\x00" * 8
    assert multimodal.png_decode(bytes(bad_idat)) is None

    # truncated pixel data: valid zlib, too few scanline bytes
    import struct as _s
    import zlib as _z
    ihdr = _s.pack(">IIBBBBB", 8, 6, 8, 2, 0, 0, 0)
    short_raw = _z.compress(b"\x00" + b"\x01" * 10)  # one partial scanline
    chunks = [(b"IHDR", ihdr), (b"IDAT", short_raw), (b"IEND", b"")]
    blob = b"\x89PNG\r\n\x1a\n" + b"".join(
        _s.pack(">I", len(d)) + t + d + _s.pack(">I", _z.crc32(t + d) & 0xFFFFFFFF)
        for t, d in chunks
    )
    assert multimodal.png_decode(blob) is None

    # truncated IHDR (short chunk payload)
    trunc = b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR" + b"\x00\x00"
    assert multimodal.png_decode(trunc) is None


@given(
    st.dictionaries(
        st.text(min_size=1, max_size=12),
        st.text(max_size=20),
        min_size=1,
        max_size=200,
    ),
    st.integers(1, 16),
)
@settings(max_examples=30, deadline=None)
def test_map_file_lookup_pure_roundtrip(items, interval):
    """MapFile point lookup over the pure-Python writer: every written key
    is found, absent keys return None, for any index interval — including
    interval=1 (every record indexed) and sparse indexes that force the
    seek+scan path. Keys sort in UTF-8 byte order (WritableComparable
    order for Text)."""
    import os
    import struct
    import tempfile

    from hadoop_2_7_1_spark.sources import mapfile
    from hadoop_2_7_1_spark.sources.seqfile import _SeqWriter, _enc_text

    with tempfile.TemporaryDirectory() as d:
        part = os.path.join(d, "part-00000")
        os.makedirs(part)
        with open(os.path.join(part, "data"), "wb") as data_fh, open(
            os.path.join(part, "index"), "wb"
        ) as idx_fh:
            data = _SeqWriter(
                data_fh, "org.apache.hadoop.io.Text",
                "org.apache.hadoop.io.Text", "prop-data",
            )
            index = _SeqWriter(
                idx_fh, "org.apache.hadoop.io.Text",
                "org.apache.hadoop.io.LongWritable", "prop-index",
            )
            for n, (k, v) in enumerate(
                sorted(items.items(), key=lambda kv: kv[0].encode("utf-8"))
            ):
                kb = _enc_text(k)
                if n % interval == 0:
                    index.append(kb, struct.pack(">q", data_fh.tell()))
                data.append(kb, _enc_text(v))

        for k, v in items.items():
            assert mapfile.map_file_lookup(d, k) == v
        probe = "\x00__absent__"
        if probe not in items:
            assert mapfile.map_file_lookup(d, probe) is None


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=12
    ),
    st.sampled_from(["a", "b", "aa", "ab", "ba"]),
    st.sampled_from(["a", "b", "aa", "ab", "ba"]),
)
@settings(max_examples=300, deadline=None)
def test_bpe_replace_equals_greedy_fold(words, left, right):
    """The bpe oracle's load-bearing trick: on a separator-joined symbol
    string (sep BEFORE every symbol, no trailing sep), SQL-style
    non-overlapping left-to-right replace of sep+l+sep+r with sep+lr
    produces EXACTLY the engine's greedy carry fold. If a future edit
    breaks this, the DuckDB replay silently diverges from bpe_merges."""
    SEP = "\x1f"

    def fold(syms):
        acc, carry = [], ""
        for s in syms:
            if carry == "":
                carry = s
            elif carry == left and s == right:
                carry = left + right
            else:
                acc.append(carry)
                carry = s
        if carry != "":
            acc.append(carry)
        return acc

    for word in words:
        syms = list(word)
        joined = "".join(SEP + s for s in syms)
        replaced = joined.replace(SEP + left + SEP + right, SEP + left + right)
        assert [t for t in replaced.split(SEP) if t] == fold(syms), (
            word, left, right
        )


@given(
    st.integers(1, 4000), st.integers(1, 3000), st.integers(0, 10 ** 6),
    st.integers(1, 10 ** 6),
)
@settings(max_examples=60, deadline=None)
def test_avi_header_roundtrip(w, h, frames, us_pf):
    """make_avi -> parse_avi_header recovers exactly (w, h, frames,
    us_per_frame); corrupt/truncated variants return None, never raise."""
    from hadoop_2_7_1_spark.operators import multimodal

    blob = multimodal.make_avi(w, h, frames, us_pf)
    assert multimodal.parse_avi_header(blob) == (w, h, frames, us_pf)
    # truncations at every prefix boundary stay silent
    for cut in (0, 4, 11, 12, 20, len(blob) - 1):
        assert multimodal.parse_avi_header(blob[:cut]) in (None, (w, h, frames, us_pf)) \
            if cut >= 12 else multimodal.parse_avi_header(blob[:cut]) is None
    # wrong container magic
    assert multimodal.parse_avi_header(b"RIFF\x00\x00\x00\x00WAVE") is None


@given(st.lists(st.integers(0, 9), min_size=13, max_size=19))
@settings(max_examples=200, deadline=None)
def test_luhn_sql_fragment_matches_reference_implementation(digits):
    """The SQL Luhn fragment (evaluated via DuckDB) must agree with a
    straightforward Python Luhn for any digit run."""
    import duckdb

    from hadoop_2_7_1_spark.operators.textops import _luhn_duckdb

    s = "".join(map(str, digits))

    def luhn_py(d: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(d)):
            v = int(ch)
            if i % 2 == 1:
                v *= 2
                if v > 9:
                    v -= 9
            total += v
        return total % 10 == 0

    got = duckdb.sql(f"SELECT {_luhn_duckdb(repr(s))} AS ok").fetchone()[0]
    assert got == luhn_py(s)


@given(st.integers(3, 40), st.integers(3, 40), st.integers(0, 250))
@settings(max_examples=25, deadline=None)
def test_dhash_stability_and_sensitivity(w, h, seed):
    """dHash must be identical for identical images and differ in only a
    few bits for a one-pixel perturbation (the near-dup property)."""
    from hadoop_2_7_1_spark.operators import multimodal

    img = multimodal.make_png_with_pixels(w, h, seed)
    h1 = multimodal.dhash_bytes(img)
    assert h1 == multimodal.dhash_bytes(img)
    assert len(h1) == 16

    # decode, flip one pixel channel hard, re-encode: hamming distance small
    dw, dh, ch, px = multimodal.png_decode(img)
    px = bytearray(px)
    px[(dh // 2 * dw + dw // 2) * ch] ^= 0xFF
    h2 = multimodal.dhash_bytes(multimodal.png_encode(dw, dh, ch, bytes(px)))
    dist = bin(int(h1, 16) ^ int(h2, 16)).count("1")
    assert dist <= 8, f"one-pixel edit flipped {dist} bits"


@given(st.integers(1, 4))
@settings(max_examples=4, deadline=None)
def test_hll_register_fold_is_exact_integer(p_shift):
    """The HLL fold must be reproducible from the register table alone —
    merging two halves' registers by max gives the identical estimate."""
    import hashlib

    from hadoop_2_7_1_spark.operators.sketches import (
        HLL_M, HLL_RHO_CAP, HLL_NUMERATOR,
    )

    def registers(values):
        regs = {}
        for v in values:
            h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
            b, w = h >> 50, h % (1 << 50)
            rho = 51 if w == 0 else 51 - w.bit_length()
            m = min(rho, HLL_RHO_CAP)
            regs[b] = max(regs.get(b, 0), m)
        return regs

    def estimate(regs):
        s = sum(1 << (HLL_RHO_CAP - m) for m in regs.values())
        zeros = HLL_M - len(regs)
        s += zeros * (1 << HLL_RHO_CAP)
        return HLL_NUMERATOR / s, zeros

    vals = [f"v{i * p_shift}" for i in range(5000)]
    whole, _ = estimate(registers(vals))
    ra, rb = registers(vals[::2]), registers(vals[1::2])
    merged = {b: max(ra.get(b, 0), rb.get(b, 0)) for b in set(ra) | set(rb)}
    got, _ = estimate(merged)
    assert got == whole  # exact equality — integer fold, no float drift


# --- systematic resampling stride formula (operators/sampling.py) --------

def _f(c: int, n_out: int, W: int) -> int:
    # (2*n_out*c + W) div (2*W) with positive numerator: truncation==floor
    return (2 * n_out * c + W) // (2 * W)


@settings(max_examples=200, deadline=None)
@given(
    weights=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=200),
    n_out=st.integers(min_value=1, max_value=500),
)
def test_systematic_stride_formula_invariants(weights, n_out):
    W = sum(weights)
    cum = 0
    total = 0
    for w in weights:
        cum += w
        picked = _f(cum, n_out, W) - _f(cum - w, n_out, W)
        exp = w * n_out / W
        # every record draws floor or ceil of its expectation
        assert math.floor(exp) <= picked <= math.ceil(exp)
        total += picked
    # the systematic guarantee — total draws EXACTLY n_out
    assert total == n_out


# --- KMV merge (operators/sketches.py) -----------------------------------

@settings(max_examples=100, deadline=None)
@given(
    a=st.lists(st.floats(min_value=0, max_value=1, exclude_max=True), max_size=50),
    b=st.lists(st.floats(min_value=0, max_value=1, exclude_max=True), max_size=50),
    k=st.integers(min_value=1, max_value=16),
)
def test_kmv_merge_commutative_and_bounded(a, b, k):
    from hadoop_2_7_1_spark.operators.sketches import merge_kmv

    m1 = merge_kmv([a, b], k)
    m2 = merge_kmv([b, a], k)
    assert m1 == m2  # union is order-free
    assert len(m1) <= k and m1 == sorted(m1)
    # merging a sketch with itself is idempotent
    assert merge_kmv([m1, m1], k) == m1


# --- jackknife reduction (operators/aggregates.py) -----------------------

@settings(max_examples=100, deadline=None)
@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**9),
            st.integers(min_value=1, max_value=10**6),
        ),
        min_size=2,
        max_size=20,
    )
)
def test_jackknife_se_matches_direct_formula(cells):
    from hadoop_2_7_1_spark.operators.aggregates import jackknife_se

    tn = sum(n for n, _ in cells)
    td = sum(d for _, d in cells)
    rows = []
    for n, d in cells:
        if td == d:  # degenerate: removing this stratum empties the denominator
            return
        rows.append(
            {"num_cents": n, "den_cents": d, "theta_loo": (tn - n) / (td - d)}
        )
    theta, se = jackknife_se(rows)
    assert abs(theta - tn / td) < 1e-12
    g = len(rows)
    loos = [r["theta_loo"] for r in rows]
    mean = sum(loos) / g
    var = (g - 1) / g * sum((x - mean) ** 2 for x in loos)
    assert abs(se - math.sqrt(var)) < 1e-12
    # identical strata -> zero variance
    if len({(n, d) for n, d in cells}) == 1:
        assert se < 1e-9


# --- KS cross-multiplied integers vs float ECDF --------------------------

@settings(max_examples=100, deadline=None)
@given(
    a=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=100),
    b=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=100),
)
def test_ks_integer_form_matches_float_ecdf(a, b):
    na, nb = len(a), len(b)
    values = sorted(set(a) | set(b))
    ca = cb = 0
    best_int = 0
    best_float = 0.0
    for v in values:
        ca += sum(1 for x in a if x == v)
        cb += sum(1 for x in b if x == v)
        best_int = max(best_int, abs(ca * nb - cb * na))
        best_float = max(best_float, abs(ca / na - cb / nb))
    assert abs(best_int / (na * nb) - best_float) < 1e-9


# ---------------------------------------------------------------------------
# round-6 final batches: property-test the shared oracle formulas against
# brute-force Python references (DuckDB side; the Spark side is proven
# equivalent by the driver-sim exact-hash comparison).


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.booleans()), min_size=2, max_size=60
    ).filter(lambda xs: any(y for _, y in xs) and any(not y for _, y in xs))
)
@settings(max_examples=40, deadline=None)
def test_oracle_auc_matches_bruteforce(rows):
    import duckdb
    import pandas as pd

    from hadoop_2_7_1_spark.operators.profile import oracle_roc_auc

    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["s", "y"]))
    got = con.sql(oracle_roc_auc("t", "s", "y")).df().iloc[0]
    # brute force: P(score_pos > score_neg) + 0.5 P(tie)
    pos = [s for s, y in rows if y]
    neg = [s for s, y in rows if not y]
    wins = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p in pos for n in neg)
    want = wins / (len(pos) * len(neg))
    assert abs(got["auc"] - want) < 1e-6


@given(st.lists(st.integers(0, 10_000), min_size=1, max_size=50))
@settings(max_examples=40, deadline=None)
def test_oracle_gini_matches_mad_formula(vals):
    import duckdb
    import pandas as pd

    from hadoop_2_7_1_spark.operators.aggregates import oracle_gini_lorenz

    if sum(vals) == 0:
        return
    con = duckdb.connect()
    con.register("vals", pd.DataFrame({"k": range(len(vals)), "x": vals}))
    rows = con.sql(oracle_gini_lorenz("SELECT k, x FROM vals")).df()
    got = rows["gini"].iloc[0]
    # brute force via mean absolute difference: G = Σ|xi-xj| / (2 n Σx)
    n, s = len(vals), sum(vals)
    mad = sum(abs(a - b) for a in vals for b in vals)
    want = mad / (2 * n * s)
    assert abs(got - want) < 1e-6
    # Lorenz curve sanity: cumulative shares are monotone, end at 1
    shares = sorted(rows["cum_share"])
    assert shares == list(rows.sort_values("decile")["cum_share"])
    assert abs(rows.sort_values("decile")["cum_share"].iloc[-1] - 1.0) < 1e-9


@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=20),
    st.integers(1, 4),
)
@settings(max_examples=40, deadline=None)
def test_oracle_water_filling_matches_greedy(sizes, den):
    import duckdb
    import pandas as pd

    from hadoop_2_7_1_spark.operators.packing import oracle_water_filling_budget

    con = duckdb.connect()
    con.register("src", pd.DataFrame({"k": [str(i) for i in range(len(sizes))], "t": sizes}))
    out = con.sql(
        oracle_water_filling_budget("SELECT k, t FROM src", budget_num=1, budget_den=den)
    ).df()
    budget = sum(sizes) // den
    # reference: binary search the integer cap
    def spend(cap):
        return sum(min(t, cap) for t in sizes)

    lo, hi = 0, max(sizes) if sizes else 0
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if spend(mid) <= budget:
            lo = mid
        else:
            hi = mid - 1
    total = int(out["allocated"].sum())
    assert total <= budget
    # every allocation is min(t, cap) for the discovered water level,
    # except fully-funded prefix rows which keep everything
    alloc = dict(zip(out["k"], out["allocated"]))
    for i, t in enumerate(sizes):
        a = alloc[str(i)]
        assert a <= t
        assert a >= min(t, lo)  # never allocates below the optimal level


@given(st.lists(st.integers(-1000, 1000), min_size=2, max_size=80))
@settings(max_examples=40, deadline=None)
def test_oracle_moments_match_python_stats(vals):
    import duckdb
    import pandas as pd

    from hadoop_2_7_1_spark.operators.aggregates import oracle_group_moments

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"g": ["x"] * len(vals), "v": vals}))
    r = con.sql(oracle_group_moments("t", "g", "v")).df().iloc[0]
    n = len(vals)
    mu = sum(vals) / n
    m2 = sum((v - mu) ** 2 for v in vals) / n
    assert abs(r["mean_val"] - mu) < 1e-5
    assert abs(r["stddev"] - m2 ** 0.5) < 1e-5
    if m2 > 0:
        m3 = sum((v - mu) ** 3 for v in vals) / n
        m4 = sum((v - mu) ** 4 for v in vals) / n
        assert abs(r["skewness"] - m3 / (m2 * m2 ** 0.5)) < 1e-4
        assert abs(r["kurtosis_excess"] - (m4 / (m2 * m2) - 3.0)) < 1e-4


def _holt_replay(ys, scale=10_000):
    """Pure-Python twin of the holt_linear fold (truncating div)."""
    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    l = b = sae = None
    for i, y in enumerate(ys):
        if i == 0:
            l, b, sae = y * scale, 0, 0
        else:
            nl = tdiv(3 * y * scale + 7 * (l + b), 10)
            nb = tdiv((nl - l) + 9 * b, 10)
            sae += abs(y * scale - (l + b))
            l, b = nl, nb
    return l, b, sae


@given(st.integers(-10_000, 10_000), st.integers(1, 40))
def test_holt_constant_series_is_fixed_point(y, n):
    # constant input: level stays exactly y*scale, trend stays 0, errors 0
    l, b, sae = _holt_replay([y] * n)
    assert l == y * 10_000 and b == 0 and sae == 0


@given(st.lists(st.integers(-10_000, 10_000), min_size=2, max_size=60))
def test_holt_state_bounded_by_input_range(ys):
    # convexity of the integer recurrence: the level can never escape the
    # running input envelope by more than the trend carry (bounded by the
    # max step); a crude but real stability invariant
    l, b, sae = _holt_replay(ys)
    lo, hi = min(ys) * 10_000, max(ys) * 10_000
    span = hi - lo + 10_000
    assert lo - 2 * span <= l <= hi + 2 * span
    assert sae >= 0


@given(
    st.integers(1, 1000), st.integers(1, 1000),
    st.integers(2, 12), st.integers(2, 12),
)
def test_changepoint_level_shift_recovers_split(mu_a, mu_b, n_a, n_b):
    # exact-argmax invariant: with a clean level shift and distinct means,
    # V(i) is maximized exactly at the boundary
    if mu_a == mu_b:
        return
    ys = [mu_a] * n_a + [mu_b] * n_b
    n = len(ys)
    pref = [0]
    for y in ys:
        pref.append(pref[-1] + y)
    s = pref[-1]
    best_t, best_v = None, None
    for t in range(1, n):
        v = pref[t] ** 2 / t + (s - pref[t]) ** 2 / (n - t)
        if best_v is None or v > best_v:
            best_t, best_v = t, v
    assert best_t == n_a


@given(st.lists(st.tuples(st.integers(0, 2**32 - 1), st.integers(1, 10**6)),
                min_size=1, max_size=50), st.integers(0, 10))
def test_sequential_poisson_scale_invariant(rows, shift):
    # scaling every weight by the same power of two rescales every priority
    # exactly (IEEE: division by a power of 2 is exact), so the selected
    # set is invariant — the pps analogue of rank stability
    c = 2 ** shift
    pri1 = sorted(((h + 1) / 2**32) / w for h, w in rows)
    pri2 = sorted((((h + 1) / 2**32) / (w * c)) * c for h, w in rows)
    assert pri1 == pri2
