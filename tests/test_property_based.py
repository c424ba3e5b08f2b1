"""Property-based tests (hypothesis): the Column-expression implementations
must agree with plain-Python reference semantics on arbitrary inputs, and
operator invariants must hold. Batched: each property collects its examples
first, then runs ONE Spark job over all of them."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_poc_spark.functions.text import slugify, word_count
from etl_poc_spark.operators.chunker import chunk_by_tokens

# \x1c-\x1f are Python-whitespace but not Java-regex \s — a documented
# divergence (functions/text.py::word_count docstring); excluded here.
TEXT = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00\x1c\x1d\x1e\x1f"),
    max_size=120,
)


def ref_slugify(text: str) -> str:
    s = re.sub(r"[^a-z0-9]+", "-", (text or "").lower())
    s = re.sub(r"-{2,}", "-", s).strip("-")
    return s or "untitled"


def collect_examples(strategy, n=60):
    out = []

    @settings(max_examples=n, deadline=None, database=None)
    @given(strategy)
    def gather(x):
        out.append(x)

    gather()
    return out


def test_slugify_property(spark):
    examples = collect_examples(TEXT)
    df = spark.createDataFrame([(i, s) for i, s in enumerate(examples)], "i int, s string")
    got = {r["i"]: r["slug"] for r in df.select("i", slugify(F.col("s")).alias("slug")).collect()}
    for i, s in enumerate(examples):
        assert got[i] == ref_slugify(s), f"slugify({s!r}): {got[i]!r} != {ref_slugify(s)!r}"


def test_word_count_property(spark):
    examples = collect_examples(TEXT)
    df = spark.createDataFrame([(i, s) for i, s in enumerate(examples)], "i int, s string")
    got = {r["i"]: r["wc"] for r in df.select("i", word_count(F.col("s")).alias("wc")).collect()}
    for i, s in enumerate(examples):
        assert got[i] == len(s.split()), f"word_count({s!r}): {got[i]} != {len(s.split())}"


def test_chunker_invariants_property(spark):
    word_lists = collect_examples(st.lists(st.from_regex(r"[a-z]{1,8}", fullmatch=True), max_size=150), n=40)
    rows = [(i, " ".join(ws)) for i, ws in enumerate(word_lists)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = chunk_by_tokens(df, chunk_size=40, chunk_overlap=10).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, ws in enumerate(word_lists):
        n = len(ws)
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_id"])
        if n == 0:
            assert chunks == []  # empty docs produce no chunks
            continue
        # chunk count = ceil over starts at step 30
        assert len(chunks) == len(range(0, n, 30))
        # every chunk's tokens are the right slice; concatenation covers all
        for c in chunks:
            start = c["chunk_id"] * 30
            expected = ws[start : start + 40]
            assert c["chunk_text"].split() == expected
            assert c["chunk_n_tokens"] == len(expected)
        covered = set()
        for c in chunks:
            covered.update(range(c["chunk_id"] * 30, c["chunk_id"] * 30 + c["chunk_n_tokens"]))
        assert covered == set(range(n))  # full coverage, no gaps


def test_simhash64_banding_pigeonhole_recall(spark):
    """Mathematical invariant of the 64-bit banding: any two signatures
    with hamming distance <= n_bands - 1 (= 3) MUST share at least one of
    the four 16-bit bands, so the band equi-join can never miss them."""
    rnd = st.randoms(use_true_random=False)
    examples = collect_examples(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.sets(st.integers(min_value=0, max_value=63), min_size=0, max_size=3),
        ),
        n=80,
    )
    rows = []
    for i, (sig, flips) in enumerate(examples):
        near = sig
        for b in flips:
            near ^= 1 << b
        # to signed 64-bit (Spark LongType)
        def signed(v):
            v &= (1 << 64) - 1
            return v - (1 << 64) if v >= 1 << 63 else v
        rows.append((2 * i, signed(sig)))
        rows.append((2 * i + 1, signed(near)))
    from etl_poc_spark.operators.dedup import simhash64_near_dup_pairs

    sigs = spark.createDataFrame(rows, "doc_id long, sig long")
    pairs = {(r["id_a"], r["id_b"])
             for r in simhash64_near_dup_pairs(sigs, max_hamming=3).collect()}
    for i, (sig, flips) in enumerate(examples):
        if len(flips) <= 3:  # hamming == len(flips) exactly
            assert (2 * i, 2 * i + 1) in pairs, (sig, flips)


def test_pack_sequences_greedy_properties(spark):
    """Invariants on arbitrary token lists: every doc packed exactly once,
    multi-doc bins never exceed the cap, bins are contiguous in id order,
    and bin_fill is the running sum within the bin."""
    examples = collect_examples(
        st.lists(st.integers(min_value=1, max_value=700), min_size=1, max_size=30), n=25
    )
    from etl_poc_spark.operators.curation import pack_sequences_greedy

    rows = [
        ("g%d" % gi, i, tok)
        for gi, toks in enumerate(examples)
        for i, tok in enumerate(toks)
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id int, n_tokens int")
    out = pack_sequences_greedy(df, cap=512, group_cols=["lang"]).collect()
    assert len(out) == len(rows)
    by_group: dict = {}
    for r in out:
        by_group.setdefault(r["lang"], []).append(r)
    for gi, toks in enumerate(examples):
        rows_g = sorted(by_group["g%d" % gi], key=lambda r: r["doc_id"])
        assert [r["doc_id"] for r in rows_g] == list(range(len(toks)))
        # replay next-fit in python and compare exactly
        bin_id, fill = 0, 0
        for r, tok in zip(rows_g, toks):
            if fill > 0 and fill + tok > 512:
                bin_id, fill = bin_id + 1, 0
            fill += tok
            assert (r["bin_id"], r["bin_fill"]) == (bin_id, fill), (gi, r)


def test_asof_join_matches_python_reference(spark):
    """asof_join (backward inclusive) vs a brute-force per-row reference on
    arbitrary keyed timelines, including duplicate left timestamps and
    unmatched rows."""
    scenario = st.tuples(
        st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=15),  # left (k, ts)
        st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=15),  # right (k, ts)
    )
    examples = collect_examples(scenario, n=40)
    left_rows, right_rows, expected = [], [], {}
    rid = 0
    for case_id, (lefts, rights) in enumerate(examples):
        # unique right (k, ts) per case (the operator contract pre-dedupes)
        rights = list(dict.fromkeys(rights))
        for k, t in lefts:
            left_rows.append((case_id, k, t, rid))
            rid += 1
        for k, t in rights:
            right_rows.append((case_id, k, t, f"r{case_id}_{k}_{t}"))
    right_by_case = {}
    for c, k, t, tag in right_rows:
        right_by_case.setdefault((c, k), []).append((t, tag))
    for c, k, t, lid in left_rows:
        cands = [(rt, tag) for rt, tag in right_by_case.get((c, k), []) if rt <= t]
        expected[lid] = max(cands)[1] if cands else None

    from etl_poc_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(left_rows, "case int, k int, ts int, lid int")
    rdf = spark.createDataFrame(right_rows, "case int, k int, ts int, tag string")
    got = {r["lid"]: r["asof_tag"]
           for r in asof_join(ldf, rdf, by=["case", "k"], right_cols=["tag"]).collect()}
    assert got == expected


def test_blocked_fuzzy_pairs_matches_bruteforce_reference(spark):
    """Hypothesis: within the blocking recall boundary, the operator finds
    EXACTLY the brute-force edit-distance pairs — same-block candidate
    generation, the length prefilter, and the levenshtein verify lose
    nothing and add nothing. Reference = pure-Python DP over all
    same-block pairs."""
    import random

    from etl_poc_spark.operators.linkage import blocked_fuzzy_pairs

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(42)
    alphabet = "abc"
    for trial in range(5):
        d = rng.choice([1, 2])
        names = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 7)))
            for _ in range(40)
        ]
        rows = list(enumerate(names))
        df = spark.createDataFrame(rows, "id long, name string")
        block = F.substring("name", 1, 1)
        got = {
            (r["id_a"], r["id_b"]): r["distance"]
            for r in blocked_fuzzy_pairs(df, "id", "name", block, d).collect()
        }
        want = {
            (i, j): lev(a, b)
            for i, a in rows
            for j, b in rows
            if i < j and a[0] == b[0] and lev(a, b) <= d
        }
        assert got == want, (trial, d)


def test_bigram_lm_closed_form_property(spark):
    """Hypothesis-generated corpora where EVERY word is globally distinct:
    each bigram and each history then occurs exactly once, so add-1
    smoothing gives every bigram p = (1+1)/(1+V) and the perplexity of
    every scoreable doc is EXACTLY (1+V)/2 — a closed form the whole
    train/score/fold pipeline must hit bit-for-bit. Novelty degenerates
    the same way: all bigrams are hapax. Duplicating the corpus once
    flips it: NO bigram is hapax."""
    from etl_poc_spark.operators.ngram_lm import perplexity_filter, train_bigram_lm

    word_lists = collect_examples(
        st.lists(st.integers(0, 10**9), min_size=2, max_size=30, unique=True),
        n=12,
    )
    # globally-unique words across docs: prefix with the doc index
    docs = [
        (i, " ".join(f"w{i}x{w}" for w in ws)) for i, ws in enumerate(word_lists)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    v = sum(len(ws) for ws in word_lists)

    import math

    scored = perplexity_filter(df, k=1.0).collect()
    assert len(scored) == len(docs)
    for r in scored:
        # closed form up to the exp(log(x)) float round-trip (~1 ulp)
        assert math.isclose(r["ppl"], (1 + v) / 2, rel_tol=1e-12), (r, v)

    _, _, vdf = train_bigram_lm(df)
    assert vdf.collect()[0]["v"] == v

    # duplicated corpus: every bigram count doubles -> zero hapax
    from etl_poc_spark import registry

    dup = df.unionByName(
        df.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    from etl_poc_spark.operators.ngram_lm import _bigram_structs, words_col

    b = (
        dup.select("doc_id", words_col().alias("words"))
        .where(F.size("words") >= 2)
        .select("doc_id", F.explode(_bigram_structs()).alias("p"))
        .select("doc_id", F.col("p.bigram").alias("bigram"))
    )
    cnt = b.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    assert cnt.where("c = 1").count() == 0


def test_dsir_weights_property_random_corpora(spark):
    """DSIR invariants on hypothesis-generated corpora:
    (1) target == raw  =>  every log weight is EXACTLY 0.0 (identical
        models: each per-bucket term is log(x)-log(x) = 0.0 bit-exact,
        and the fold of zeros is zero);
    (2) feature conservation: a doc of n>=1 words contributes exactly
        2n-1 hashed occurrences (n unigrams + n-1 bigrams);
    (3) weights are finite for every doc (smoothing guards all logs)."""
    from etl_poc_spark.operators.dsir import (
        dsir_log_weights,
        hashed_feature_counts,
    )

    words = st.lists(
        st.text(alphabet=st.characters(codec="ascii", categories=("Ll",)),
                min_size=1, max_size=6),
        min_size=1, max_size=12,
    )
    corpora = collect_examples(st.lists(words, min_size=1, max_size=8), n=12)
    for ci, corpus in enumerate(corpora):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(corpus)]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        w = dsir_log_weights(d, d, n_buckets=32).collect()
        assert len(w) == len(rows)
        assert all(r["log_weight"] == 0.0 for r in w), (ci, w)
        fc = {
            r["doc_id"]: r["n"]
            for r in hashed_feature_counts(d, n_buckets=32)
            .groupBy("doc_id")
            .agg(F.sum("cnt").alias("n"))
            .collect()
        }
        for i, ws in enumerate(corpus):
            assert fc[i] == 2 * len(ws) - 1, (ci, i, ws, fc[i])


def test_keep_best_per_group_matches_python_reference(spark):
    """keep_best_per_group == per-group max by (quality DESC, id ASC) in
    plain Python, for arbitrary (group, quality, id) multisets."""
    rows_strat = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),        # group
            st.integers(min_value=-1000, max_value=1000), # quality
        ),
        min_size=1,
        max_size=40,
    )
    cases = collect_examples(rows_strat, n=40)
    all_rows = []
    for ci, case in enumerate(cases):
        for rid, (grp, q) in enumerate(case):
            all_rows.append((ci, f"g{grp}", q, rid))
    df = spark.createDataFrame(all_rows, "case int, grp string, q long, id long")

    from etl_poc_spark.operators.dedup import keep_best_per_group

    got = {
        (r["case"], r["grp"]): (r["q"], r["id"])
        for r in keep_best_per_group(df, "grp", "q", "id").collect()
    }
    # ...with the group key scoped per case via a composite column
    # reference check in plain Python
    ref: dict = {}
    for ci, grp, q, rid in all_rows:
        k = (ci, f"{grp}")
        best = ref.get(k)
        if best is None or (q, -rid) > (best[0], -best[1]):
            ref[k] = (q, rid)
    # keep_best groups by grp ONLY — recompute got on (case, grp) frames:
    got2 = {}
    for ci in {c for c, _, _, _ in all_rows}:
        sub = df.filter(F.col("case") == ci)
        for r in keep_best_per_group(sub, "grp", "q", "id").collect():
            got2[(ci, r["grp"])] = (r["q"], r["id"])
    assert got2 == ref


def test_length_bucket_padding_invariants(spark):
    """For arbitrary positive token counts: per-band waste >= 0,
    sum(n_seqs) == n inputs, bucketed_waste <= unbucketed_waste per band,
    and band_max is the smallest multiple of the bucket >= every member."""
    counts = collect_examples(
        st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=60),
        n=30,
    )
    from etl_poc_spark.operators.curation import length_bucket_padding

    for i, ns in enumerate(counts[:12]):   # bounded number of Spark jobs
        df = spark.createDataFrame([(n,) for n in ns], "n long")
        rows = length_bucket_padding(df, "n", 64).collect()
        assert sum(r["n_seqs"] for r in rows) == len(ns)
        gmax = max(ns)
        for r in rows:
            assert r["band_max"] % 64 == 0
            assert r["bucketed_waste"] >= 0
            # exact relation: unbucketed - bucketed = (gmax - band_max)*n,
            # so bucketing wins on every band BELOW the global max and
            # "loses" only the top band's ceiling slack (band_max - gmax)
            assert r["unbucketed_waste"] - r["bucketed_waste"] == (
                gmax - r["band_max"]
            ) * r["n_seqs"]
            members = [n for n in ns if (n + 63) // 64 * 64 == r["band_max"]]
            assert len(members) == r["n_seqs"]
            assert sum(members) == r["sum_tokens"]
            assert r["band_max"] >= max(members) > r["band_max"] - 64
            assert r["unbucketed_waste"] == gmax * len(members) - sum(members)


def test_exact_ols_fit_matches_numpy(spark):
    """exact_ols_fit's closed-form coefficients match numpy's lstsq to
    float tolerance on arbitrary integer observations (>=2 distinct x)."""
    import numpy as np

    obs_strat = st.lists(
        st.tuples(
            st.integers(min_value=-10000, max_value=10000),
            st.integers(min_value=-10000, max_value=10000),
        ),
        min_size=3,
        max_size=30,
    ).filter(lambda rows: len({x for x, _ in rows}) >= 2)
    cases = collect_examples(obs_strat, n=25)
    from etl_poc_spark.operators.curation import exact_ols_fit

    for rows in cases[:10]:
        df = spark.createDataFrame(rows, "x long, y long")
        got = exact_ols_fit(df, "x", "y").collect()[0]
        xs = np.array([x for x, _ in rows], dtype=float)
        ys = np.array([y for _, y in rows], dtype=float)
        a = np.vstack([np.ones_like(xs), xs]).T
        (w0, w1), *_ = np.linalg.lstsq(a, ys, rcond=None)
        assert abs(got["w0"] - w0) < 1e-6 * max(1.0, abs(w0)), (got, w0, w1)
        assert abs(got["w1"] - w1) < 1e-6 * max(1.0, abs(w1)), (got, w0, w1)


def test_badwords_flags_match_python_reference(spark):
    """c4_badwords_flags == a plain-Python tokenizer/matcher on arbitrary
    ascii documents against the placeholder list."""
    import re as _re

    from etl_poc_spark.operators.curation import (
        C4_BADWORDS_PLACEHOLDER,
        c4_badwords_flags,
    )

    texts = collect_examples(TEXT, n=80)
    # salt in guaranteed positives/negatives so the property isn't vacuous
    texts += [
        "a badword here", "badwords only", "NSFW stuff ahead",
        "nsfw-stuff", "nsfw alone", "explicit!", "explicitly not",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    got = {r["i"]: r["n_badword_hits"] for r in c4_badwords_flags(df).collect()}

    words = [w for w in C4_BADWORDS_PLACEHOLDER if " " not in w]
    phrases = [w for w in C4_BADWORDS_PLACEHOLDER if " " in w]

    def ref(t: str) -> int:
        toks = set(x for x in _re.split(r"[^a-z0-9]+", t.lower()) if x)
        n = len(toks & set(words))
        for p in phrases:
            pat = (
                "(^|[^a-z0-9])"
                + "[^a-z0-9]+".join(_re.escape(w) for w in p.split())
                + "([^a-z0-9]|$)"
            )
            if _re.search(pat, t.lower()):
                n += 1
        return n

    for i, t in enumerate(texts):
        assert got[i] == ref(t), (i, repr(t), got[i], ref(t))
