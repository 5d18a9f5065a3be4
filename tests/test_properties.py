"""Property-based tests (hypothesis) for the semantic kernel — pure-Python
cores, no JVM. The reference has no property tests (SURVEY.md §5); these
pin the invariants the distributed engine depends on:

- canonicalize_url_str is idempotent and deterministic (exactly-once fetch
  depends on one URL having one identity, /root/reference/README.md:114)
- normalize_str is idempotent and emits only printable-ASCII single-spaced
  strings or None (lib/sinew/csv.rb:52-87 pipeline)
- BloomShards never false-negatives (a false negative would break the
  exactly-once guarantee; false positives are caught by the exact anti-join)
- n-gram/token Jaccard bounds and symmetry
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sinew_spark.functions.normalize import normalize_str
from sinew_spark.functions.urls import canonicalize_url_str
from sinew_spark.operators.bloom import BloomShards

# URL pieces that stay within RFC-ish shape so urlsplit round-trips
_host = st.from_regex(r"[a-z](?:[a-z0-9-]{0,10}[a-z0-9])?(?:\.[a-z]{2,5}){1,2}", fullmatch=True)
_path_seg = st.from_regex(r"[A-Za-z0-9._~-]{0,8}", fullmatch=True)
_q_key = st.from_regex(r"[a-z]{1,6}", fullmatch=True)
_q_val = st.from_regex(r"[A-Za-z0-9]{0,6}", fullmatch=True)


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "HttpS"]))
    host = draw(_host)
    segs = draw(st.lists(st.sampled_from([".", ".."]) | _path_seg, max_size=5))
    path = "/" + "/".join(segs) if segs else ""
    q = draw(st.lists(st.tuples(_q_key, _q_val), max_size=4))
    query = "&".join(f"{k}={v}" for k, v in q)
    frag = draw(st.sampled_from(["", "#frag"]))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    return f"{scheme}://{host}{port}{path}" + (f"?{query}" if query else "") + frag


@settings(max_examples=200, deadline=None)
@given(urls())
def test_canonicalize_idempotent(u):
    c1 = canonicalize_url_str(u)
    assert c1 is not None
    c2 = canonicalize_url_str(c1)
    assert c2 == c1


@settings(max_examples=200, deadline=None)
@given(urls())
def test_canonicalize_shape(u):
    c = canonicalize_url_str(u, ignore_params=frozenset({"junk"}))
    assert "#" not in c
    scheme = c.split("://", 1)[0]
    assert scheme == scheme.lower()
    netloc = c.split("://", 1)[1].split("/", 1)[0]
    if c.startswith("http://"):
        assert not netloc.endswith(":80")
    if c.startswith("https://"):
        assert not netloc.endswith(":443")
    # ignored param never survives
    assert "junk=" not in c


@settings(max_examples=200, deadline=None)
@given(urls(), st.lists(st.tuples(_q_key, _q_val), max_size=3))
def test_canonicalize_param_order_insensitive(u, params):
    base = canonicalize_url_str(u)
    sep = "&" if "?" in base else "?"
    fwd = base + (sep + "&".join(f"{k}={v}" for k, v in params) if params else "")
    rev = base + (sep + "&".join(f"{k}={v}" for k, v in reversed(params)) if params else "")
    assert canonicalize_url_str(fwd) == canonicalize_url_str(rev)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_normalize_idempotent_and_shape(s):
    n1 = normalize_str(s)
    if n1 is None:
        return
    assert normalize_str(n1) == n1
    assert n1 == n1.strip()
    assert "  " not in n1
    assert "\t" not in n1 and "\n" not in n1
    # output is plain ASCII (the reference's sterile pipeline guarantees it
    # for all inputs its translation tables cover; ours must for any input)
    assert all(ord(ch) < 128 for ch in n1)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.text(max_size=10), st.integers()), max_size=5)
)
def test_normalize_array_pipe_join(arr):
    joined = "|".join("" if v is None else str(v) for v in arr)
    assert normalize_str(list(arr)) == normalize_str(joined)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=500, unique=True),
    st.integers(min_value=0, max_value=2**31),
)
def test_bloom_no_false_negatives(keys, probe_seed):
    b = BloomShards(capacity=max(len(keys) * 2, 64), fpp=0.01, n_shards=4)
    arr = np.array(keys, dtype=np.int64)
    b.add(arr)
    assert bool(b.might_contain(arr).all())
    # round-trip through bytes preserves membership
    b2 = BloomShards.from_bytes(b.to_bytes())
    assert bool(b2.might_contain(arr).all())


@settings(max_examples=50, deadline=None)
@given(st.lists(urls() | st.none(), min_size=1, max_size=40))
def test_canonicalize_udf_fastpath_parity(us):
    """The UDF's vectorized already-canonical fast path must agree with the
    per-row urllib canonicalizer on every input (fast rows are fixpoints;
    everything else must fall through to the slow path)."""
    import pandas as pd

    from sinew_spark.functions.urls import make_canonicalize_udf

    batch_fn = make_canonicalize_udf(ignore_params=("junk",)).func
    got = list(batch_fn(pd.Series(us, dtype=object)))
    want = [
        canonicalize_url_str(u, ignore_params=frozenset({"junk"})) if u is not None else None
        for u in us
    ]
    assert got == want


_ref = st.one_of(
    st.from_regex(r"(http|https)://[a-z0-9.]{1,12}(/[A-Za-z0-9./_-]{0,12})?", fullmatch=True),
    st.from_regex(r"//[a-z0-9.]{1,12}/[A-Za-z0-9./_-]{0,12}", fullmatch=True),
    st.from_regex(r"/[A-Za-z0-9./_-]{0,16}(\?[a-z0-9=&]{0,8})?", fullmatch=True),
    st.from_regex(r"(\.\./)*[A-Za-z0-9._-]{1,10}(/[A-Za-z0-9._-]{0,8})?", fullmatch=True),
    st.from_regex(r"\?[a-z0-9=&]{1,10}", fullmatch=True),
    # degenerate protocol-relative refs with an EMPTY authority — urljoin
    # resolves these against the base host, the '//' concat fast path must
    # not fire ('///p', '//?q', '//#f', bare '//')
    st.from_regex(r"//(/[A-Za-z0-9./_-]{0,8}|\?[a-z0-9=&]{0,6}|#[a-z0-9]{0,6})?", fullmatch=True),
)


@settings(max_examples=200, deadline=None)
@given(urls(), _ref)
def test_link_resolver_matches_urljoin(base, ref):
    """The per-document fast link resolver must agree with urljoin on every
    reference form (absolute, protocol-relative, root-relative with and
    without dot segments, relative, query-only)."""
    from urllib.parse import urljoin

    from sinew_spark.functions.htmlparse import _make_link_resolver

    assert _make_link_resolver(base)(ref) == urljoin(base, ref)


@given(
    entries=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),      # key
            st.integers(min_value=200, max_value=599),   # status
            st.floats(min_value=0.0, max_value=1000.0),  # fetched_at
        ),
        min_size=0,
        max_size=120,
    ),
    n_runs=st.integers(min_value=1, max_value=5),
    expires=st.one_of(st.none(), st.floats(min_value=1.0, max_value=1500.0)),
    force_errors=st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_valued_shard_stats_match_brute_force(entries, n_runs, expires, force_errors):
    """The seen index's per-key class-max statistics, merged across any
    run partitioning, answer every TTL/force_errors predicate exactly like
    a brute-force scan over the raw seen entries (anti_join_seen's
    semantics: blocked iff a live entry exists)."""
    from sinew_spark.operators.bloom import _NEG_INF, _merge_runs

    NOW = 1000.0
    cutoff = None if expires is None else NOW - expires

    # partition entries into runs arbitrarily, build per-run class maxima
    runs = []
    for r in range(n_runs):
        chunk = entries[r::n_runs]
        if not chunk:
            continue
        keys = np.array([k for k, _s, _f in chunk], dtype=np.int64)
        st_ = np.array([s for _k, s, _f in chunk])
        fa = np.array([f for _k, _s, f in chunk])
        ok = st_ < 400
        uk, inv = np.unique(keys, return_inverse=True)
        mok = np.full(len(uk), _NEG_INF)
        merr = np.full(len(uk), _NEG_INF)
        np.maximum.at(mok, inv[ok], fa[ok])
        np.maximum.at(merr, inv[~ok], fa[~ok])
        runs.append((uk, mok, merr))
    if runs:
        uk, mok, merr = runs[0] if len(runs) == 1 else _merge_runs(runs)
    else:
        uk = np.empty(0, dtype=np.int64)
        mok = merr = np.empty(0)

    for key in range(45):
        # store's answer (reject_seen's blocked predicate)
        i = np.searchsorted(uk, key)
        found = i < len(uk) and uk[i] == key
        fa_ok = mok[i] if found else _NEG_INF
        fa_err = merr[i] if found else _NEG_INF
        live = fa_ok if force_errors else max(fa_ok, fa_err)
        blocked_store = live >= cutoff if cutoff is not None else live > _NEG_INF

        # brute force over raw entries
        blocked_brute = any(
            (s < 400 if force_errors else True)
            and (f >= cutoff if cutoff is not None else True)
            for k, s, f in entries
            if k == key
        )
        assert blocked_store == blocked_brute, (key, expires, force_errors)


@given(
    runs=st.lists(
        st.tuples(
            st.sampled_from(["k", "d"]),
            st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=15),
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=200, deadline=None)
def test_key_fold_matches_set_replay(runs):
    """_fold_runs resolves any interleaving of add + tombstone runs to a
    key set that is exactly the set replay in generation order —
    delete-then-re-append is a member, append-then-delete is not (the MOR
    sequence rule the seen table's uncache depends on)."""
    from sinew_spark.operators.bloom import _fold_runs

    entries = []
    expect: set[int] = set()
    for g, (kind, keys) in enumerate(runs):
        arr = np.unique(np.array(keys, dtype=np.int64))
        if kind == "k":
            entries.append((g + 1, kind, (arr, np.zeros(len(arr)), np.full(len(arr), -np.inf))))
            expect |= set(arr.tolist())
        else:
            entries.append((g + 1, kind, arr))
            expect -= set(arr.tolist())
    got = _fold_runs(entries)[0]
    assert got.tolist() == sorted(expect)
    assert (np.diff(got) > 0).all()  # sorted unique (probe binary-search contract)


@given(
    runs=st.lists(
        st.tuples(
            st.sampled_from(["k", "d"]),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=20),      # key
                    st.integers(min_value=200, max_value=599),   # status
                    st.floats(min_value=0.0, max_value=1000.0),  # fetched_at
                ),
                min_size=0,
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_val_fold_matches_dict_replay(runs):
    """_fold_runs: tombstones wipe a key's statistics entirely; a later
    re-add rebuilds class maxima only from runs after the tombstone —
    matching a dict replay of the raw (key, status, fetched_at) stream."""
    from sinew_spark.operators.bloom import _NEG_INF, _fold_runs

    entries = []
    expect: dict[int, list[float]] = {}
    replay = []
    for g, (kind, items) in enumerate(runs):
        if kind == "k":
            keys = np.array([k for k, _s, _f in items], dtype=np.int64)
            st_ = np.array([s for _k, s, _f in items])
            fa = np.array([f for _k, _s, f in items])
            ok = st_ < 400
            uk, inv = np.unique(keys, return_inverse=True)
            mok = np.full(len(uk), _NEG_INF)
            merr = np.full(len(uk), _NEG_INF)
            np.maximum.at(mok, inv[ok], fa[ok])
            np.maximum.at(merr, inv[~ok], fa[~ok])
            entries.append((g + 1, "k", (uk, mok, merr)))
            replay.append(("k", items))
        else:
            dead = np.unique(np.array([k for k, _s, _f in items], dtype=np.int64))
            entries.append((g + 1, "d", dead))
            replay.append(("d", [k for k, _s, _f in items]))
    for kind, items in replay:
        if kind == "k":
            for k, s, f in items:
                cur = expect.setdefault(k, [_NEG_INF, _NEG_INF])
                cur[0 if s < 400 else 1] = max(cur[0 if s < 400 else 1], f)
        else:
            for k in items:
                expect.pop(k, None)
    uk, mok, merr = _fold_runs(entries)
    assert uk.tolist() == sorted(expect)
    for i, k in enumerate(uk.tolist()):
        assert (mok[i], merr[i]) == tuple(expect[k]), k


# --- surt / template / classifier properties (session additions) -------

_label = st.from_regex(r"[a-z0-9]([a-z0-9-]{0,6}[a-z0-9])?", fullmatch=True)
_pathseg = st.from_regex(r"[a-zA-Z0-9._~!$&'()*+,;=:@-]{1,8}", fullmatch=True)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(_label, min_size=1, max_size=4),
    st.lists(_pathseg, min_size=0, max_size=4),
    st.one_of(st.none(), st.from_regex(r"[a-z0-9=&%]{0,12}", fullmatch=True)),
)
def test_surt_key_structure_property(spark, labels, segs, query):
    from pyspark.sql import functions as F

    from sinew_spark.functions.urls import surt_key_expr

    host = ".".join(labels)
    path = "/" + "/".join(segs)
    url = f"http://{host}{path}" + (f"?{query}" if query is not None else "")
    got = (
        spark.range(1)
        .select(surt_key_expr(F.lit(url)))
        .collect()[0][0]
    )
    want = ",".join(reversed(labels)) + ")" + (path if path != "" else "/")
    if query:  # empty query string contributes no '?'
        want += "?" + query
    assert got == want


@settings(max_examples=100, deadline=None)
@given(st.lists(st.from_regex(r"[a-zA-Z0-9.,!']{1,10}", fullmatch=True), max_size=20))
def test_hashed_linear_score_property(spark, words):
    import hashlib
    import re

    from pyspark.sql import functions as F

    from sinew_spark.functions.text import hashed_linear_score_expr

    text = " ".join(words)
    got = (
        spark.createDataFrame([(text,)], ["t"])
        .select(hashed_linear_score_expr(F.col("t")))
        .collect()[0][0]
    )
    md5i = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)  # noqa: E731
    t = text.strip()
    want = (
        0
        if t == ""
        else sum(
            md5i(f"qlc|{md5i(tok) % 4096}") % 2001 - 1000
            for tok in re.split(r"\s+", t.lower())
        )
    )
    assert got == want


@settings(max_examples=100, deadline=None)
@given(
    st.lists(_label, min_size=1, max_size=3),
    st.lists(st.from_regex(r"[a-zA-Z0-9]{1,6}", fullmatch=True), max_size=4),
)
def test_url_template_collapses_all_digit_runs(spark, labels, segs):
    import re

    from pyspark.sql import functions as F

    from sinew_spark.operators.traps import url_template_expr

    url = "http://" + ".".join(labels) + "/" + "/".join(segs)
    got = (
        spark.range(1).select(url_template_expr(F.lit(url))).collect()[0][0]
    )
    host, _, path = got.partition("|")
    assert not re.search(r"[0-9]", path)  # every digit run collapsed
    assert host == ".".join(labels).lower()
    # idempotence: re-templating the template path changes nothing
    assert re.sub(r"[0-9]+", "N", path) == path
