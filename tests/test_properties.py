"""Property-based tests (hypothesis) over the pure cores.

Invariants from SURVEY.md §5:
- folding the diffs of v1..vK reproduces the raw tag state of vK;
- @history length == found-version count;
- reconstruction validity intervals chain without overlap and cover
  [t_1, ∞) for nodes.
"""

import hypothesis.strategies as st
from hypothesis import given, settings

from osm_wayback_spark.operators._reconstruct_core import (
    fold_tags,
    reconstruct_feature,
)

# -- tag state machine --------------------------------------------------------

_KEYS = ["a", "b", "c", "d"]
_VALS = ["1", "2", "3"]

tag_maps = st.dictionaries(st.sampled_from(_KEYS), st.sampled_from(_VALS), max_size=4)


def _diff(prev: dict | None, cur: dict) -> dict:
    """The reference's tag diff (add_history.cpp:118-204)."""
    if prev is None:
        return {"aA": dict(cur)}
    if prev == cur:
        return {}
    out = {}
    added = {k: v for k, v in cur.items() if k not in prev}
    deleted = {k: v for k, v in prev.items() if k not in cur}
    modified = {
        k: [prev[k], cur[k]] for k in cur if k in prev and cur[k] != prev[k]
    }
    if added:
        out["aA"] = added
    if modified:
        out["aM"] = modified
    if deleted:
        out["aD"] = deleted
    return out


@given(st.lists(tag_maps, min_size=1, max_size=12))
@settings(max_examples=300, deadline=None)
def test_fold_inverts_diff(states):
    prev = None
    folded: dict = {}
    for cur in states:
        folded = fold_tags(folded, _diff(prev, cur))
        assert folded == cur  # fold(diffs v1..vk) == raw tags of vk
        prev = cur


# -- node reconstruction intervals --------------------------------------------

ts_lists = st.lists(
    st.integers(min_value=1, max_value=10**9), min_size=1, max_size=10, unique=True
).map(sorted)


@given(ts_lists)
@settings(max_examples=200, deadline=None)
def test_node_validity_chain(ts):
    history = [
        {"i": i + 1, "c": 10 + i, "t": t, "u": 1, "h": "u",
         "p": [float(i), float(i)], "aA": {}}
        for i, t in enumerate(ts)
    ]
    out = reconstruct_feature("node", 1, None, history, None)
    assert len(out) == len(history)  # one feature per found version
    props = [f["properties"] for f in out]
    for a, b in zip(props, props[1:]):
        assert a["@validUntil"] == b["@validSince"]  # contiguous chain
    assert props[0]["@validSince"] == ts[0]
    assert props[-1]["@validUntil"] is False  # node quirk


@given(ts_lists, st.integers(min_value=0, max_value=5))
@settings(max_examples=100, deadline=None)
def test_way_major_until_is_next_t_minus_nothing(ts, extra):
    # ways with a single static node: majors chain on raw next-t
    locs = {"5": {"100": {"p": [0.0, 0.0], "t": 1, "i": 1, "u": 1, "h": "x"}}}
    history = [
        {"i": i + 1, "c": 200 + i, "t": t, "u": 1, "h": "u", "n": [5], "aA": {}}
        for i, t in enumerate(ts)
    ]
    out = reconstruct_feature(
        "way", 2, {"type": "LineString", "coordinates": []}, history, locs
    )
    majors = [f["properties"] for f in out if f["properties"]["@minorVersion"] == 0]
    assert len(majors) == len(ts)
    for a, t_next in zip(majors, ts[1:]):
        assert a["@validUntil"] == t_next
    assert majors[-1]["@validUntil"] is None  # way quirk: null


# -- round-4 pure math: quadtree parent derivation ---------------------------

@given(
    st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
    st.floats(min_value=-90.0, max_value=90.0, allow_nan=False),
    st.integers(min_value=0, max_value=16),
    st.integers(min_value=0, max_value=16),
)
@settings(max_examples=300, deadline=None)
def test_parent_cell_shift_identity(lon, lat, r_coarse, delta):
    """floor(v·2^rf) >> Δ == floor(v·2^(rf-Δ)) with the [0, 2^r-1]
    clamps — the invariant the single-pass PIP point side rests on —
    checked in pure Python over the exact tile formulas."""
    import math

    r_fine = r_coarse + delta

    def txy(res):
        n = 2 ** res
        x = min(n - 1, max(0, math.floor((lon + 180.0) / 360.0 * n)))
        clamped = min(85.05112878, max(-85.05112878, lat))
        rad = math.radians(clamped)
        merc = math.log(math.tan(rad) + 1.0 / math.cos(rad))
        y = min(n - 1, max(0, math.floor((1.0 - merc / math.pi) / 2.0 * n)))
        return x, y

    xf, yf = txy(r_fine)
    xc, yc = txy(r_coarse)
    assert xf >> delta == xc
    assert yf >> delta == yc


# -- round-4 pure math: sliding-window shingles ------------------------------

@given(st.lists(st.sampled_from(["aa", "b", "ccc", "dd"]), min_size=0, max_size=12),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=200, deadline=None)
def test_shingle_semantics_python_model(tokens, n):
    """The engine's shingle set equals the Python model (distinct
    n-gram joins; <n words degenerate to one whole-text shingle) for
    arbitrary token sequences — the model both dedup oracles use."""
    text = " ".join(tokens)
    words = text.split()
    if len(words) >= n:
        exp = {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}
    else:
        exp = {" ".join(words)}
    # pure-python mirror of functions.text.shingles' zip_with form
    m = len(words) - (n - 1)
    if len(words) >= n:
        acc = words[0:m]
        for k in range(2, n + 1):
            nxt = words[k - 1:k - 1 + m]
            acc = [f"{a} {b}" for a, b in zip(acc, nxt)]
        got = set(acc)
    else:
        got = {" ".join(words)}
    assert got == exp


# -- BPE merge/encode purity --------------------------------------------------


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=0,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=10),
)
@settings(max_examples=200, deadline=None)
def test_bpe_python_core_train_encode_inverse(words_list, n_merges):
    """Pure-core property (no Spark): encoding with merges trained on
    the same tiny corpus never INCREASES token count vs raw chars,
    concatenating the tokens reproduces the word, and every token is
    either a single char or a learned merge product."""
    from tests.test_bpe import _ref_encode, _ref_train, _word_freqs

    merges = _ref_train(_word_freqs(words_list), n_merges)
    produced = {l + r for l, r in merges}
    text = " ".join(words_list)
    toks = _ref_encode(text, merges)
    assert "".join(toks) == "".join(words_list)
    assert len(toks) <= sum(len(w) for w in words_list)
    for t in toks:
        assert len(t) == 1 or t in produced


@given(st.text(alphabet="abc x", min_size=0, max_size=60))
@settings(max_examples=150, deadline=None)
def test_winnow_guarantee_python_model(t):
    """Winnowing guarantee on the pure model: a text always shares
    every fingerprint with itself, and any w+k-1-char substring
    planted into another text produces a shared fingerprint."""
    import hashlib

    k, w = 4, 3

    def fps(text):
        s = " ".join(text.split()).lower()
        if len(s) < k + w - 1:
            return set()
        hs = [
            hashlib.md5(s[i:i + k].encode()).hexdigest()
            for i in range(len(s) - k + 1)
        ]
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    base = fps(t)
    assert fps(t) == base
    run = " ".join(t.split()).lower()
    if len(run) >= k + w - 1:
        # plant the full normalized text into fresh context
        host = "zzz " + run + " qqq"
        assert base & fps(host), (t, host)


@given(
    st.text(alphabet="abcd xyz", min_size=0, max_size=400),
    st.integers(min_value=12, max_value=40),
)
@settings(max_examples=300, deadline=None)
def test_winnow_chunking_model_preserves_fingerprints(t, chunk):
    """The overlapping-chunk decomposition used by
    winnow_fingerprints(chunk_chars=) on the pure model: chunks of
    ``chunk`` chars at stride chunk-(w+k-1)+1 must reproduce the
    EXACT unchunked fingerprint set for arbitrary text and chunk
    sizes down to the 2*(k+w-1) minimum."""
    import hashlib

    k, w = 4, 3
    span = k + w - 1
    if chunk < 2 * span:
        chunk = 2 * span

    def fps(s):
        if len(s) < span:
            return set()
        hs = [
            hashlib.md5(s[i:i + k].encode()).hexdigest()
            for i in range(len(s) - k + 1)
        ]
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    s = " ".join(t.split()).lower()
    whole = fps(s)
    chunked: set[str] = set()
    if len(s) >= span:
        stride = chunk - span + 1
        for start in range(0, len(s) - span + 1, stride):
            chunked |= fps(s[start:start + chunk])
    assert chunked == whole
