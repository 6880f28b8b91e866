"""Property-based tests (hypothesis): the Spark operators must agree with
a direct Python transliteration of the reference's JS semantics on
arbitrary generated inputs — not just the committed golden files.

Each example generates a whole dataset (one Spark job per example, small
max_examples) rather than one row per example.
"""

import re
from urllib.parse import urlsplit

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops.clean import js_to_int
from counsel_data_pipeline_spark.ops.dedup import first_wins
from counsel_data_pipeline_spark.ops.merge import js_template_key, keyed_merge

# ---------------------------------------------------------------------------
# Python mirrors of the JS semantics (reference src/index.js:17,65-98)
# ---------------------------------------------------------------------------


def py_js_to_int(x):
    """JS: Number.isFinite(Number(x)) ? Number(x) : 0 — truncated to int.

    Mirrors JS Number(): ASCII-only (JS rejects Unicode digits that
    Python's float() accepts). Hex literals aren't mirrored (never
    generated).
    """
    if x is None:
        return 0
    s = str(x).strip()
    if s == "":
        return 0
    if not s.isascii():
        return 0
    try:
        v = float(s)
    except ValueError:
        return 0
    if v != v or v in (float("inf"), float("-inf")):
        return 0
    return int(v)


def py_uniq_first_wins(rows, key_fn):
    seen, out = set(), []
    for r in rows:
        k = key_fn(r)
        if k not in seen:
            seen.add(k)
            out.append(r)
    return out


def py_merge(yes_rows, no_rows):
    """Reference mergeYesNo: first row wins descriptive fields, counts max,
    teleconsultation ORs (src/index.js:65-86)."""
    merged = {}
    for r in list(yes_rows) + list(no_rows):
        k = "||".join(
            ("null" if r[c] is None else str(r[c])) for c in ("county", "org", "addr")
        ).strip()
        if k not in merged:
            merged[k] = dict(r)
        else:
            p = merged[k]
            p["n"] = max(p["n"], r["n"])
            p["tele"] = bool(p["tele"]) or bool(r["tele"])
    return merged


# ---------------------------------------------------------------------------
# Generators
# ---------------------------------------------------------------------------

int_like = st.one_of(
    st.none(),
    st.just(""),
    st.just(" "),
    st.integers(-1000, 1000).map(str),
    st.from_regex(r"\A-?\d{1,4}(\.\d{1,3})?\Z"),
    st.text(alphabet="0123456789abc .-", min_size=0, max_size=6),
)

key_text = st.one_of(st.none(), st.sampled_from(["a", "b", "市", "x y", ""]))

row = st.fixed_dictionaries(
    {
        "county": key_text,
        "org": key_text,
        "addr": key_text,
        "n": st.integers(0, 50),
        "tele": st.booleans(),
    }
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(int_like, min_size=1, max_size=30))
def test_js_int_cast_property(spark, values):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, raw string")
    got = {r.i: r.out for r in df.select("i", js_to_int(F.col("raw")).alias("out")).collect()}
    for i, v in enumerate(values):
        assert got[i] == py_js_to_int(v), f"input {v!r}: spark={got[i]} js={py_js_to_int(v)}"


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(row, min_size=1, max_size=40), st.lists(row, min_size=0, max_size=40))
def test_keyed_merge_matches_js_semantics(spark, yes_rows, no_rows):
    schema = "county string, org string, addr string, n int, tele boolean, ingest_order long"
    yes = spark.createDataFrame(
        [{**r, "ingest_order": i} for i, r in enumerate(yes_rows)], schema
    )
    no = spark.createDataFrame(
        [{**r, "ingest_order": i} for i, r in enumerate(no_rows)], schema
    )
    # JS processes a Map keyed by the template string; dedupe inputs first
    # (the reference's uniqByKey runs upstream of the merge)
    key_fn = lambda r: "||".join(  # noqa: E731
        ("null" if r[c] is None else str(r[c])) for c in ("county", "org", "addr")
    ).strip()
    yes_rows = py_uniq_first_wins(yes_rows, key_fn)
    no_rows = py_uniq_first_wins(no_rows, key_fn)
    yes = first_wins(yes, js_template_key("county", "org", "addr"), "ingest_order")
    no = first_wins(no, js_template_key("county", "org", "addr"), "ingest_order")

    merged = keyed_merge(
        yes, no, js_template_key("county", "org", "addr"),
        max_cols=["n"], or_cols=["tele"], order_col="ingest_order",
    )
    exp = py_merge(yes_rows, no_rows)
    got = {}
    for r in merged.collect():
        k = key_fn({"county": r.county, "org": r.org, "addr": r.addr})
        got[k] = (r.n, r.tele)
    assert set(got) == set(exp)
    for k, p in exp.items():
        assert got[k] == (p["n"], p["tele"]), k


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=60))
def test_first_wins_property(spark, pairs):
    rows = [(k, v, i) for i, (k, v) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "k int, v int, ingest_order long")
    got = {
        r.k: (r.v, r.ingest_order)
        for r in first_wins(df, ["k"], "ingest_order").collect()
    }
    exp = {}
    for k, v in pairs:
        exp.setdefault(k, (v, pairs.index((k, v))))
    for k in exp:
        first_i = min(i for i, (kk, _) in enumerate(pairs) if kk == k)
        assert got[k] == (pairs[first_i][1], first_i)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 600)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_pack_sequences_matches_python_reference(spark, docs_spec):
    """pack_sequences ≡ a pure-Python replay of the packing loop for any
    (doc_id, token_count) multiset — pins the md5 shard hash, the
    per-shard running sum, the ceil-division sequence count, and the
    boundary-split rule all at once."""
    import hashlib

    from counsel_data_pipeline_spark.ops.curation import pack_sequences

    ctx, shards, seed = 256, 4, 7
    rows = [(doc_id, "w " * n_tok) for doc_id, n_tok in docs_spec]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # pure-Python reference
    def shard_of(doc_id):
        h = hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8]
        return int(h, 16) % shards

    ref = {}
    per_shard = {}
    for doc_id, n_tok in sorted(docs_spec):
        per_shard.setdefault(shard_of(doc_id), []).append(n_tok)
    for sh, toks in per_shard.items():
        cum = 0
        n_split = 0
        for n_tok in toks:
            start = cum
            cum += n_tok
            if start % ctx + n_tok > ctx:
                n_split += 1
        ref[sh] = {
            "n_docs": len(toks),
            "total_tokens": cum,
            "n_sequences": (cum + ctx - 1) // ctx,
            "n_split_docs": n_split,
            "tail_tokens": cum % ctx,
        }

    got = {
        r["shard"]: r
        for r in pack_sequences(docs, ctx_len=ctx, n_shards=shards).collect()
    }
    assert set(got) == set(ref)
    for sh, want in ref.items():
        for k, v in want.items():
            assert got[sh][k] == v, (sh, k, v, got[sh][k])


# ---------------------------------------------------------------------------
# Duplicate-span coverage vs a brute-force Python reference
# ---------------------------------------------------------------------------


def py_span_coverage(texts: dict[int, str], k: int) -> dict[int, tuple[int, int]]:
    """Brute force: per doc, (n_tokens, positions covered by a k-gram span
    occurring >=2 times corpus-wide). Mirrors norm_text/tokens: lowercase,
    whitespace-collapsed, whitespace split."""
    toks = {i: " ".join(t.split()).lower().split(" ") for i, t in texts.items()}
    from collections import Counter

    spans = Counter()
    for t in toks.values():
        for i in range(len(t) - k + 1):
            spans[" ".join(t[i : i + k])] += 1
    out = {}
    for d, t in toks.items():
        covered = set()
        for i in range(len(t) - k + 1):
            if spans[" ".join(t[i : i + k])] >= 2:
                covered.update(range(i, i + k))
        out[d] = (len(t), len(covered))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee".split()), min_size=1, max_size=20)
        .map(" ".join),
        min_size=2,
        max_size=8,
    ),
    k=st.integers(min_value=2, max_value=4),
)
def test_duplicate_span_coverage_matches_bruteforce(spark, docs, k):
    from counsel_data_pipeline_spark.ops.text_dedup import duplicate_span_coverage

    data = {i: t for i, t in enumerate(docs)}
    df = spark.createDataFrame(list(data.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in duplicate_span_coverage(df, k=k).collect()
    }
    assert got == py_span_coverage(data, k)


# ---------------------------------------------------------------------------
# Prefix-filtered Jaccard == brute force on arbitrary corpora
# ---------------------------------------------------------------------------


def py_jaccard_pairs(texts, n=3):
    """Exact threshold-0.5 Jaccard over n-word shingle sets."""
    sh = {}
    for i, text in enumerate(texts):
        t = text.split()
        sh[i] = (
            {" ".join(t[j : j + n]) for j in range(len(t) - n + 1)}
            if len(t) >= n
            else set()
        )
    out = {}
    ids = sorted(sh)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sh[ids[x]], sh[ids[y]]
            if not a or not b:
                continue
            inter = len(a & b)
            if 2 * inter >= len(a | b):
                out[(ids[x], ids[y])] = (inter, len(a), len(b))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee ff".split()),
                 min_size=1, max_size=24)
        .map(" ".join),
        min_size=3,
        max_size=10,
    ),
)
def test_jaccard_prefix_pairs_match_bruteforce(spark, docs):
    """The prefix+positional+length filter stack must be LOSSLESS on
    arbitrary corpora, including sub-shingle-length docs, all-identical
    docs (maximal ties in the global order), and single-shingle docs —
    not just the committed corpus the oracle gate runs on."""
    from counsel_data_pipeline_spark.ops.text_dedup import jaccard_prefix_pairs

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
        for r in jaccard_prefix_pairs(df, n=3, t_num=1, t_den=2).collect()
    }
    assert got == py_jaccard_pairs(docs)


def py_containment_pairs(texts, n=3, t_num=4, t_den=5):
    """Exact containment (inter/min >= t) over n-word shingle sets."""
    sh = {}
    for i, text in enumerate(texts):
        t = text.split()
        sh[i] = (
            {" ".join(t[j : j + n]) for j in range(len(t) - n + 1)}
            if len(t) >= n
            else set()
        )
    out = {}
    ids = sorted(sh)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = sh[ids[x]], sh[ids[y]]
            if not a or not b:
                continue
            inter = len(a & b)
            if inter * t_den >= min(len(a), len(b)) * t_num:
                out[(ids[x], ids[y])] = (inter, len(a), len(b))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee ff".split()),
                 min_size=1, max_size=24)
        .map(" ".join),
        min_size=3,
        max_size=10,
    ),
)
def test_containment_prefix_pairs_match_bruteforce(spark, docs):
    """The one-sided prefix + positional filter must be lossless for the
    asymmetric measure on arbitrary corpora — including the pasted-
    paragraph shape (tiny doc fully contained in a long one) where the
    size ratio is extreme and Jaccard's two-sided length filter would
    have pruned the pair."""
    from counsel_data_pipeline_spark.ops.text_dedup import (
        containment_prefix_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"])
        for r in containment_prefix_pairs(
            df, n=3, t_num=4, t_den=5
        ).collect()
    }
    assert got == py_containment_pairs(docs)


# ---------------------------------------------------------------------------
# J2/U3 recombine (reference src/geocode-diff-merge.js:16-21,141-156)
# ---------------------------------------------------------------------------


def py_key3(r):
    """phone digits + '|' + host(org_url) || host(map_url), minus 'www.'."""

    def host(url):
        try:
            h = urlsplit(url or "").hostname or ""
        except ValueError:  # JS: new URL() throws → ''
            h = ""
        return h[4:] if h.startswith("www.") else h

    phone = re.sub(r"[^0-9]", "", r["phone"] or "")
    return phone + "|" + (host(r["org_url"]) or host(r["map_url"]))


def py_recombine(clean, carried, newly, geo_cols):
    """The reference's two-map loop: the FIRST carried row per key3 is
    pushed whole; else the clean row takes the geo of the LAST newly row
    with its key3 (the JS ``Map`` constructor keeps the last duplicate);
    else its geo is null."""
    carried_by_key = {}
    for r in carried:
        carried_by_key.setdefault(py_key3(r), r)
    newly_by_key = {py_key3(r): r for r in newly}
    out = []
    for r in clean:
        k = py_key3(r)
        if k in carried_by_key:
            out.append(dict(carried_by_key[k]))
        else:
            n = newly_by_key.get(k, {})
            out.append({**r, **{c: n.get(c) for c in geo_cols}})
    return out


phone_text = st.sampled_from([None, "", "02-111", "(02)111", "02 222", "03-333", "x"])
url_text = st.sampled_from([
    None, "", "https://a.com/", "https://www.a.com/x", "https://b.org/", "not a url",
])
diff_row = st.fixed_dictionaries(
    {"phone": phone_text, "org_url": url_text, "map_url": url_text}
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(diff_row, min_size=1, max_size=8),
    st.lists(st.tuples(diff_row, st.booleans()), max_size=6),
    st.sampled_from(["mixed", "all_carried", "all_delta"]),
)
def test_recombine_matches_reference_loop(spark, clean_rows, prev_rows, mode):
    from counsel_data_pipeline_spark.ops.diff import GEO_COLS, recombine, snapshot_split

    if mode == "all_carried":  # every clean row keyed and in prev with coordinates
        clean_rows = [r if py_key3(r) != "|" else {**r, "phone": "09"} for r in clean_rows]
        prev_rows = [(r, True) for r in clean_rows]
    elif mode == "all_delta":
        prev_rows = []
    clean_data = [
        {**r, "org_name": f"c{i}", "county": "A", "address": f"addr-{i}", "ingest_order": i}
        for i, r in enumerate(clean_rows)
    ]
    prev_data = [
        {**r, "org_name": f"p{i}", "county": "A", "address": "x", "prev_order": i,
         "lat": 1.0 + i if good else None, "lng": 2.0 + i if good else None,
         "source": "opencage"}
        for i, (r, good) in enumerate(prev_rows)
    ]
    cols = "county string, org_name string, phone string, org_url string, map_url string, address string"
    clean = spark.createDataFrame(clean_data, f"{cols}, ingest_order long")
    prev = spark.createDataFrame(
        prev_data, f"{cols}, lat double, lng double, source string, prev_order long"
    )
    carried, need = snapshot_split(clean, prev)
    newly = need.withColumns({
        "lat": F.col("ingest_order") + 0.5,
        "lng": -F.col("ingest_order").cast("double"),
        "source": F.lit("stub"),
    })
    final = recombine(carried, newly)
    assert final.columns == [*clean.columns, *GEO_COLS]

    # one collect for the three frames: each row tagged with its frame
    sides = {"carried": carried, "newly": newly, "final": final}
    tagged = None
    for side, df in sides.items():
        df = df.withColumn("__side", F.lit(side))
        tagged = df if tagged is None else tagged.unionByName(df, allowMissingColumns=True)
    got = {side: [] for side in sides}
    for r in tagged.orderBy("ingest_order").collect():
        d = r.asDict()
        got[d["__side"]].append({k: v for k, v in d.items() if not k.startswith("__")})
    if mode == "all_carried":
        assert not got["newly"]
    elif mode == "all_delta":
        assert not got["carried"]
    exp = py_recombine(clean_data, got["carried"], got["newly"], GEO_COLS)

    def key(r):
        return tuple(sorted((k, repr(v)) for k, v in r.items()))

    assert sorted(map(key, got["final"])) == sorted(map(key, exp))
