"""Training-data curation operators: behavioral tests on tiny data plus
invariants the rows-only greedy packer must satisfy."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_poc_spark.operators.curation import (
    contamination_check,
    pack_sequences_greedy,
    pack_stream_cut,
    redact_pii,
    train_val_test_split,
)


def test_split_is_deterministic_and_stable_under_growth(spark):
    d1 = spark.range(500).withColumnRenamed("id", "doc_id")
    d2 = spark.range(1000).withColumnRenamed("id", "doc_id")  # corpus grew
    s1 = {r["doc_id"]: r["split"] for r in train_val_test_split(d1).collect()}
    s2 = {r["doc_id"]: r["split"] for r in train_val_test_split(d2).collect()}
    # assignments never change when new documents arrive
    assert all(s2[k] == v for k, v in s1.items())
    # rough proportions hold (hash uniformity)
    n_train = sum(1 for v in s2.values() if v == "train")
    assert 0.7 < n_train / 1000 < 0.9
    assert set(s2.values()) == {"train", "val", "test"}


def test_redact_pii_replaces_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@x.io and b@y.org call 555-123-4567 ssn 123-45-6789 ip 10.0.0.1"),
         (2, "clean text")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    r1 = out[1]
    assert r1["n_email"] == 2 and r1["n_phone"] == 1 and r1["n_ssn"] == 1 and r1["n_ipv4"] == 1
    assert "[EMAIL]" in r1["redacted"] and "[PHONE]" in r1["redacted"]
    assert "[SSN]" in r1["redacted"] and "[IP]" in r1["redacted"]
    assert "@" not in r1["redacted"].replace("[EMAIL]", "")
    assert out[2]["redacted"] == "clean text" and out[2]["n_email"] == 0


def test_contamination_check_flags_only_overlaps(spark):
    bench = spark.createDataFrame(
        [(100, " ".join(f"b{i}" for i in range(10)))], "doc_id int, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, " ".join(f"b{i}" for i in range(10))),          # identical -> contaminated
            (2, "x " + " ".join(f"b{i}" for i in range(8))),    # shares one 8-gram
            (3, " ".join(f"c{i}" for i in range(10))),          # disjoint
            (4, "too short"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["n_overlapping_ngrams"] for r in contamination_check(corpus, bench).collect()}
    assert got == {1: 3, 2: 1}  # doc 3 and 4 absent


def test_pack_stream_cut_offsets(spark):
    df = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 300), (4, 100)], "doc_id int, n_tokens int"
    )
    rows = {r["doc_id"]: r for r in pack_stream_cut(df, cap=512).collect()}
    assert [rows[i]["start_offset"] for i in (1, 2, 3, 4)] == [0, 300, 600, 900]
    assert [rows[i]["seq_id"] for i in (1, 2, 3, 4)] == [0, 0, 1, 1]


def test_pack_stream_cut_exact_past_double_mantissa(spark):
    """seq_id must use integer division: offsets past 2^53 lose exactness in
    double arithmetic, and the float path would disagree with the oracle's
    integer `//` at extreme stream lengths."""
    # 2^53+2047 is not double-representable; IEEE round-half-to-even lifts
    # it to 2^53+2048 — ACROSS the bin boundary — so the float path yields
    # seq_id 2^42+1 while exact integer division yields 2^42
    big = (1 << 53) + 2047
    df = spark.createDataFrame(
        [(1, big), (2, 1)], "doc_id int, n_tokens long"
    )
    rows = {r["doc_id"]: r for r in pack_stream_cut(df, cap=2048).collect()}
    assert rows[2]["start_offset"] == big
    assert rows[2]["seq_id"] == big // 2048 == (1 << 42)


def test_pack_sequences_greedy_invariants(spark):
    df = spark.createDataFrame(
        [("en", i, 150 + (i * 37) % 300) for i in range(40)]
        + [("de", i, 600) for i in range(3)],  # oversize docs: one bin each
        "lang string, doc_id int, n_tokens int",
    )
    out = pack_sequences_greedy(df, cap=512, group_cols=["lang"]).collect()
    assert len(out) == 43  # every doc packed exactly once
    by_bin: dict = {}
    for r in out:
        by_bin.setdefault((r["lang"], r["bin_id"]), []).append(r)
    for (lang, _), rows in by_bin.items():
        total = sum(r["n_tokens"] for r in rows)
        if len(rows) > 1:
            assert total <= 512  # no multi-doc bin overflows the cap
        assert max(r["bin_fill"] for r in rows) == total
        # id order preserved inside the bin
        ids = [r["doc_id"] for r in sorted(rows, key=lambda r: r["bin_fill"])]
        assert ids == sorted(ids)
    # de docs are each alone in a bin (600 > 512)
    de_bins = {r["bin_id"] for r in out if r["lang"] == "de"}
    assert len(de_bins) == 3


def test_gopher_quality_flags_constructed(spark, tmp_path):
    """Constructed docs hit each rejection rule exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_poc_spark.queries.curation_q import gopher_quality_flags

    docs = [
        # good: varied words, stopwords present, mean len in range
        (1, "the quick brown fox jumps over a lazy dog near the river bank today"),
        # repetition: one bigram dominates (top_bigram_frac > 0.18)
        (2, "the spam ham spam ham spam ham spam ham spam ham spam ham spam ham"),
        # mean word length too long (> 10)
        (3, "the a extraordinarily incomprehensibilities overqualification internationalization"),
        # duplicate-word fraction >= 0.5
        (4, "the a dup dup dup dup dup dup dup dup"),
        # no stopwords
        (5, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    table = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs]),
            "lang": pa.array(["en"] * len(docs)),
            "source": pa.array(["src0"] * len(docs)),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in gopher_quality_flags(spark, str(tmp_path)).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["top_bigram_frac"] > 0.18
    assert out[3]["keep"] is False and out[3]["mean_word_len"] > 10
    assert out[4]["keep"] is False and out[4]["dup_word_frac"] >= 0.5
    assert out[5]["keep"] is False and out[5]["n_stop"] == 0


def test_compression_ratio_features_pins(spark):
    """Deterministic DEFLATE features: repetitive text compresses far
    below varied text, empty text yields NULL ratio not a divide error,
    and two runs are bit-identical (fixed level -> reproducible)."""
    from etl_poc_spark.operators.text_analysis import compression_ratio_features

    rep = "spam " * 400
    varied = " ".join(f"w{i}x{i * 7 % 13}" for i in range(400))
    df = spark.createDataFrame(
        [(1, rep), (2, varied), (3, ""), (4, None)], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in compression_ratio_features(df).collect()}
    assert rows[1]["n_bytes"] == len(rep.encode())
    assert rows[1]["compression_ratio"] < 0.05      # boilerplate: tiny
    assert rows[2]["compression_ratio"] > 3 * rows[1]["compression_ratio"]
    assert rows[3]["n_bytes"] == 0 and rows[3]["compression_ratio"] is None
    assert rows[4]["n_bytes"] == 0                   # NULL text == empty

    again = {r["doc_id"]: r["n_compressed"]
             for r in compression_ratio_features(df).collect()}
    assert again == {k: v["n_compressed"] for k, v in rows.items()}


def test_bigram_lm_perplexity_hand_computed(spark):
    """Add-1 bigram perplexity on a 2-doc corpus small enough to verify
    by hand, plus the determinism property the pinned gate class relies
    on: the per-doc fold is position-sorted, so a repartitioned input
    yields bit-identical doubles."""
    import math

    from etl_poc_spark.operators.ngram_lm import perplexity_filter

    # corpus: "a b a b" + "a b c"  ->  V = {a,b,c} = 3
    # bigrams: (a b)x3, (b a)x1, (b c)x1; history counts a:3, b:3? no:
    #   doc1 histories a,b,a ; doc2 a,b  ->  c(a)=3, c(b)=2
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in perplexity_filter(df, k=1.0).collect()}

    p_ab = (3 + 1) / (3 + 3)   # c(a b)=3, c(a)=3, V=3
    p_ba = (1 + 1) / (2 + 3)   # c(b a)=1, c(b)=2
    p_bc = (1 + 1) / (2 + 3)
    nll1 = -(math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3
    nll2 = -(math.log(p_ab) + math.log(p_bc)) / 2
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 2
    assert abs(out[1]["avg_nll"] - nll1) < 1e-12
    assert abs(out[2]["avg_nll"] - nll2) < 1e-12
    assert abs(out[1]["ppl"] - math.exp(nll1)) < 1e-9

    # an unseen-history doc degrades to the uniform 1/V smoothing mass
    oov = spark.createDataFrame([(9, "zz qq")], "doc_id long, text string")
    bi_ppl = perplexity_filter(df.unionByName(oov), k=1.0)
    row9 = bi_ppl.where("doc_id = 9").collect()[0]
    assert row9["n_bigrams"] == 1

    # determinism under repartitioning: bit-identical doubles
    a = sorted(map(tuple, perplexity_filter(df, k=1.0).collect()))
    b = sorted(map(tuple, perplexity_filter(df.repartition(7), k=1.0).collect()))
    assert a == b


def test_unimax_budgets_water_filling_hand_computed(spark):
    """UniMax closed form against the worked example: strata 3549/3758/
    3958/4143/11757 at T=18000, E=1 — only the smallest fits a full
    epoch under the uniform share (f(1)=3549*5=17745 <= 18000;
    f(2)=3758*4+3549=18581 > 18000), so p=1 and the remaining four split
    (18000-3549)/4 = 3612.75 exactly."""
    from etl_poc_spark.operators.curation import unimax_budgets

    t = spark.createDataFrame(
        [("a", 3549), ("b", 3758), ("c", 3958), ("d", 4143), ("e", 11757)],
        "lang string, n_tokens long",
    )
    rows = {r["lang"]: r for r in unimax_budgets(t, "lang", "n_tokens", 18000, 1).collect()}
    assert rows["a"]["epoch_capped"] and rows["a"]["budget"] == 3549.0
    for s in "bcde":
        assert not rows[s]["epoch_capped"]
        assert rows[s]["budget"] == 3612.75
    # budget conservation: sum equals T when anything water-fills
    assert sum(r["budget"] for r in rows.values()) == 18000.0

    # all-capped branch: corpus fits the budget -> budget = cap, leftover
    # unassigned (the paper's behavior); max_epochs scales the caps
    rows2 = {
        r["lang"]: r
        for r in unimax_budgets(t, "lang", "n_tokens", 10**9, 2).collect()
    }
    for s, n in (("a", 3549), ("b", 3758), ("c", 3958), ("d", 4143), ("e", 11757)):
        assert rows2[s]["epoch_capped"] and rows2[s]["budget"] == float(2 * n)
        assert rows2[s]["cap"] == 2 * n


def test_doremi_domain_weights_hand_computed(spark):
    """DoReMi MW solver against a pure-Python reference of the same
    recurrence: 3 domains, integer excess losses (one domain all-clipped
    at 0), T=2 steps, eta=2^-8, eps=2^-6. Also checks sum(alpha)=1,
    monotonicity in lambda, and the smoothing floor for the zero-excess
    domain."""
    from etl_poc_spark.operators.curation import doremi_domain_weights

    df = spark.createDataFrame(
        [("a", 100), ("a", 200), ("b", 10), ("b", -50), ("c", -5), ("c", 0)],
        "domain string, ex long",
    )
    out = {
        r["domain"]: r
        for r in doremi_domain_weights(
            df, "domain", "ex", n_steps=2, eta_shift=8, smoothing_shift=6
        ).collect()
    }
    # lambda: a=(100+200)/2=150, b=(10+0)/2=5, c=0
    assert out["a"]["lambda_floor"] == 150
    assert out["b"]["lambda_floor"] == 5
    assert out["c"]["lambda_floor"] == 0
    # python reference of the exact recurrence
    lam = {"a": 150, "b": 5, "c": 0}
    m = {d: 256 + v for d, v in lam.items()}
    eps, k = 1.0 / 64, 3
    expect = {}
    for d in lam:
        acc = 0.0
        for t in (1, 2):
            mt = {dd: m[dd] ** t for dd in lam}
            st = sum(mt.values())
            acc = acc + ((1.0 - eps) * (float(mt[d]) / float(st)) + eps / float(k))
        expect[d] = acc / 2.0
    for d in lam:
        assert out[d]["alpha"] == expect[d], d
        assert out[d]["n_examples"] == 2
    assert abs(sum(r["alpha"] for r in out.values()) - 1.0) < 1e-12
    assert out["a"]["alpha"] > out["b"]["alpha"] > out["c"]["alpha"]
    # smoothing floor: even the zero-excess domain keeps >= eps/k mass
    assert out["c"]["alpha"] >= eps / k

    # partition independence: bit-identical under repartitioning
    a = sorted(map(tuple, doremi_domain_weights(df, "domain", "ex").collect()))
    b = sorted(
        map(tuple, doremi_domain_weights(df.repartition(7), "domain", "ex").collect())
    )
    assert a == b


def test_doremi_weights_from_stats_incremental_equivalence(spark):
    """The (sum, count) stats feeding the DoReMi solver are additive, so
    a per-batch maintained aggregate folds to the SAME frame as a one-shot
    aggregation over the union — and the solved alphas are bit-equal.
    This is the store-composition contract the other maintained models
    (ngram_lm, dsir) carry."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.curation import (
        doremi_domain_weights,
        doremi_weights_from_stats,
    )

    b1 = spark.createDataFrame(
        [("a", 100), ("b", 10), ("a", -7)], "domain string, ex long"
    )
    b2 = spark.createDataFrame(
        [("a", 50), ("b", 0), ("c", 33)], "domain string, ex long"
    )
    union = b1.unionByName(b2)

    def batch_stats(df):
        return (
            df.select("domain", F.greatest(F.col("ex"), F.lit(0)).alias("e"))
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("e").alias("s"))
        )

    # incremental fold: sum the per-batch partials (what an agg-IVM view
    # or a delta-log store does on merge)
    maintained = (
        batch_stats(b1)
        .unionByName(batch_stats(b2))
        .groupBy("domain")
        .agg(F.sum("n").alias("n_examples"), F.sum("s").alias("sum_excess"))
    )
    inc = doremi_weights_from_stats(maintained, "domain")
    one_shot = doremi_domain_weights(union, "domain", "ex")
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, one_shot.collect())
    )


def test_doremi_store_streaming_equivalence_and_replay(spark, tmp_path):
    """The maintained DoReMi store equals the one-shot solve over the
    union of every ingested batch (additive exact-integer stats), and an
    at-least-once replay of a tagged batch folds exactly once (tag-slot
    overwrite — the ngram_lm/dsir delta-log discipline)."""
    from etl_poc_spark.operators.curation import (
        doremi_domain_weights,
        doremi_handle_batch,
        doremi_store_weights,
        read_doremi_store,
    )

    store = str(tmp_path / "doremi_store")
    b1 = spark.createDataFrame(
        [("a", 120), ("a", -3), ("b", 40)], "source string, excess long"
    )
    b2 = spark.createDataFrame(
        [("b", 60), ("c", 0), ("c", 10)], "source string, excess long"
    )
    doremi_handle_batch(b1, 0, store_dir=store)
    doremi_handle_batch(b2, 1, store_dir=store)
    # replay batch 1 (at-least-once delivery): overwrites its own slot
    doremi_handle_batch(b2, 1, store_dir=store)

    stats = {
        r["domain"]: (r["n_examples"], r["sum_excess"])
        for r in read_doremi_store(spark, store).collect()
    }
    assert stats == {"a": (2, 120), "b": (2, 100), "c": (2, 10)}

    live = sorted(map(tuple, doremi_store_weights(spark, store).collect()))
    one_shot = sorted(
        map(
            tuple,
            doremi_domain_weights(
                b1.unionByName(b2), "source", "excess"
            ).withColumnRenamed("source", "domain").collect(),
        )
    )
    assert live == one_shot


def test_temperature_schedule_hand_computed(spark):
    """Anneal schedule: tau=1 keeps every stratum at rate 1; tau=0.5 is
    sqrt flattening (rate = sqrt(n_min/n) relative to the smallest
    stratum); tau=0.25 boosts the small stratum harder; non-dyadic taus
    are rejected."""
    import math

    import pytest as _pytest

    from etl_poc_spark.operators.curation import temperature_schedule

    t = spark.createDataFrame(
        [("small", 100), ("big", 10000)], "lang string, n long"
    )
    out = temperature_schedule(t, "lang", "n", [1.0, 0.5, 0.25])
    rows = {(r["phase"], r["lang"]): r for r in out.collect()}
    assert len(rows) == 6
    # phase 0 (tau=1): natural distribution, no downsampling anywhere
    assert rows[(0, "small")]["rate"] == 1.0
    assert rows[(0, "big")]["rate"] == 1.0
    # phase 1 (tau=0.5): rate_big = (1/sqrt(10000)) / (1/sqrt(100)) = 0.1
    assert rows[(1, "small")]["rate"] == 1.0
    assert rows[(1, "big")]["rate"] == (1.0 / math.sqrt(10000.0)) / (
        1.0 / math.sqrt(100.0)
    )
    # phase 2 (tau=0.25): harder flattening -> big is kept even less
    assert rows[(2, "small")]["rate"] == 1.0
    assert rows[(2, "big")]["rate"] < rows[(1, "big")]["rate"]
    r = math.sqrt(math.sqrt(10000.0))
    rs = math.sqrt(math.sqrt(100.0))
    assert rows[(2, "big")]["rate"] == (1.0 / ((r * r) * r)) / (
        1.0 / ((rs * rs) * rs)
    )
    assert rows[(2, "big")]["tau"] == 0.25
    with _pytest.raises(ValueError):
        temperature_schedule(t, "lang", "n", [0.3])


def test_pack_sequences_bfd_beats_next_fit(spark):
    """BFD packing: (1) hand-computed case where best-fit-decreasing uses
    strictly fewer bins than the next-fit walk; (2) no bin exceeds cap
    and bin_fill is each bin's exact token sum; (3) placement is a pure
    function of the (id, tokens) multiset (repartition-stable)."""
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.curation import (
        pack_sequences_bfd,
        pack_sequences_greedy,
    )

    # cap 10; sizes in id order: 6,4,5,5 -> next-fit: [6,4],[5,5]? No:
    # 6 then 4 fits (10), 5 opens bin2, 5 fills it -> greedy=2 bins; make
    # it adversarial for next-fit instead: 6,5,4,5 -> [6],[5,4],[5] = 3
    # bins; BFD sorts 6,5,5,4 -> [6,4],[5,5] = 2 bins.
    docs = spark.createDataFrame(
        [(1, "g", 6), (2, "g", 5), (3, "g", 4), (4, "g", 5)],
        "doc_id long, lang string, n_tokens long",
    )
    bfd = pack_sequences_bfd(docs, cap=10)
    greedy = pack_sequences_greedy(docs, cap=10)
    n_bfd = bfd.select("bin_id").distinct().count()
    n_greedy = greedy.select("bin_id").distinct().count()
    assert n_bfd == 2 and n_greedy == 3
    rows = bfd.collect()
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r["bin_id"], []).append(r)
    for bid, members in by_bin.items():
        tot = sum(m["n_tokens"] for m in members)
        assert tot <= 10
        assert all(m["bin_fill"] == tot for m in members)
    # pairing: 6 with 4, 5 with 5
    fills = sorted(sum(m["n_tokens"] for m in ms) for ms in by_bin.values())
    assert fills == [10, 10]
    # oversized doc gets its own bin
    big = spark.createDataFrame(
        [(1, "g", 25), (2, "g", 3)], "doc_id long, lang string, n_tokens long"
    )
    b = {r["doc_id"]: r for r in pack_sequences_bfd(big, cap=10).collect()}
    assert b[1]["bin_id"] != b[2]["bin_id"] and b[1]["bin_fill"] == 25
    # repartition stability
    a = sorted(map(tuple, bfd.collect()))
    c = sorted(map(tuple, pack_sequences_bfd(docs.repartition(3), cap=10).collect()))
    assert a == c


def test_scalable_ntile_decomposition_matches_ntile(spark):
    """quality_decile_profile's decile rule (bounded value-frame cum
    counts + per-value rank + the closed-form ntile bucket formula) is
    bit-identical to a plain global ntile — including the N % k
    remainder tiles and the N < k degenerate case."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def deciles_via_decomposition(df, k=10):
        vals = df.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
        w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        w_all = Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cum = vals.select(
            "v",
            F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("cum"),
            F.sum("c").over(w_all).alias("N"),
        )
        w_val = Window.partitionBy("v").orderBy("id")
        rn = (F.col("cum") + F.row_number().over(w_val)).alias("rn")
        ranked = df.join(F.broadcast(cum), "v").select("*", rn)
        size = (F.col("N") / F.lit(k)).cast("bigint")
        r = F.col("N") % F.lit(k)
        big = r * (size + 1)
        tile = F.when(
            F.col("rn") <= big, ((F.col("rn") - 1) / (size + 1)).cast("bigint") + 1
        ).otherwise(r + ((F.col("rn") - 1 - big) / size).cast("bigint") + 1)
        return {x["id"]: x["t"] for x in ranked.select("id", tile.cast("int").alias("t")).collect()}

    import random

    rng = random.Random(11)
    for n in (7, 10, 23, 100):  # incl. N < k and N % k != 0
        rows = [(i, rng.randint(0, 5)) for i in range(n)]  # heavy value ties
        df = spark.createDataFrame(rows, "id long, v long")
        w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
        want = {
            x["id"]: x["t"]
            for x in df.select("id", F.ntile(10).over(w).alias("t")).collect()
        }
        assert deciles_via_decomposition(df) == want, n


def test_per_stratum_fixed_sample_exact_k(spark, sf_dir):
    """Exactly min(k, stratum size) rows per language, ranks dense from
    1, and rerun-stable (pure function of doc ids)."""
    from etl_poc_spark import registry

    registry.load_all()
    out = registry.QUERIES["per_stratum_fixed_sample"](spark, sf_dir).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["sample_rank"])
    for lang, ranks in by_lang.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 10


def test_c4_badwords_rules(spark):
    """Rule-by-rule contract of the C4 document-level badwords drop
    (Raffel 2020 §2.2, r13 verdict ask #5): case-insensitive, word-
    BOUNDED (superstrings never flag), phrases match across any
    non-alphanumeric separator run, hits count distinct banned words
    plus phrase occurrences, and the filter form drops flagged docs
    without changing the schema."""
    from etl_poc_spark.operators.curation import (
        c4_badwords_filter,
        c4_badwords_flags,
    )

    docs = spark.createDataFrame(
        [
            (1, "perfectly clean prose with ordinary words"),
            (2, "contains a BADWORD in capitals"),          # case-insensitive
            (3, "badwords and explicitly are superstrings"),  # boundary: no flag
            (4, "phrase match: very NSFW stuff here"),        # phrase
            (5, "phrase across punctuation nsfw-stuff too"),  # separator run
            (6, "nsfw alone without its second word"),        # partial phrase: no
            (7, "badword plus nsfw stuff doubles the hits"),
            (8, "an obscenity; a slur. all punctuation-bound"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_badword_hits"], r["has_badwords"])
        for r in c4_badwords_flags(docs).collect()
    }
    assert got[1] == (0, False)
    assert got[2] == (1, True)
    assert got[3] == (0, False)
    assert got[4] == (1, True)
    assert got[5] == (1, True)
    assert got[6] == (0, False)
    assert got[7] == (2, True)
    assert got[8] == (2, True)

    kept = c4_badwords_filter(docs)
    assert set(kept.columns) == {"doc_id", "text"}   # flag cols internal
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 3, 6]

    # custom list overrides the placeholder entirely
    custom = c4_badwords_flags(docs, badwords=("prose", "second word"))
    got2 = {r["doc_id"]: r["has_badwords"] for r in custom.collect()}
    assert got2[1] is True and got2[6] is True and got2[2] is False


def test_c4_badwords_yaml_op(spark):
    """`badwords_filter` composes in the YAML curation vocabulary beside
    c4_filter, with a configurable list."""
    from etl_poc_spark.plans.yaml_pipeline import _apply_op
    from etl_poc_spark.llm.provider import StubProvider

    docs = spark.createDataFrame(
        [(1, "clean document"), (2, "has a badword inside"), (3, "totally fine")],
        "doc_id long, text string",
    )
    out = _apply_op(
        docs, {"name": "bw", "type": "badwords_filter"}, StubProvider()
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
    out2 = _apply_op(
        docs,
        {"name": "bw", "type": "badwords_filter", "badwords": ["fine"]},
        StubProvider(),
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 2]


def test_keep_best_per_group_quality_and_ties(spark):
    from etl_poc_spark.operators.dedup import keep_best_per_group

    df = spark.createDataFrame(
        [
            ("g1", 10, 5), ("g1", 99, 9), ("g1", 50, 1),   # max quality wins
            ("g2", 7, 3), ("g2", 7, 1),                    # tie -> min id
            ("g3", 1, 42),                                 # singleton survives
        ],
        "grp string, q long, id long",
    )
    got = {r["grp"]: r["id"] for r in keep_best_per_group(df, "grp", "q", "id").collect()}
    assert got == {"g1": 9, "g2": 1, "g3": 42}


def test_near_dup_keep_best_transitive_quality_retention(spark):
    """near_dup_keep_best keeps the highest-quality member per CONNECTED
    COMPONENT (A~B, B~C -> one group even without an A~C pair), passes
    non-members through, and breaks quality ties by min id (r15)."""
    from etl_poc_spark.operators.dedup import near_dup_keep_best

    corpus = spark.createDataFrame(
        [
            # chain component {1,2,3}: 3 has the best quality, must win
            (1, "a", 10), (2, "b", 20), (3, "c", 30),
            # pair component {10,11}: tie -> min id (10) wins
            (10, "d", 7), (11, "e", 7),
            # solo doc: untouched
            (99, "f", 1),
        ],
        "doc_id long, text string, q long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in near_dup_keep_best(corpus, pairs, "q", "doc_id").collect()
    )
    assert kept == [3, 10, 99]


def test_yaml_near_dedup_quality_key(spark):
    """near_dedup with quality_key retains the best cluster member via
    near_dup_keep_best instead of the min-id star root."""
    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    base = " ".join(f"w{j}" for j in range(30))
    docs = spark.createDataFrame(
        [
            (1, base, 30),
            (2, base + " extra tail words", 33),   # best copy, higher id
            (3, " ".join(f"z{j}" for j in range(12)), 12),
        ],
        "doc_id long, text string, n_tokens long",
    )
    out = _apply_op(
        docs,
        {"name": "nd", "type": "near_dedup", "quality_key": "n_tokens"},
        StubProvider(),
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]
    # default retention keeps the min-id root instead
    out2 = _apply_op(
        docs, {"name": "nd", "type": "near_dedup"}, StubProvider()
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 3]


def test_length_bucket_padding_arithmetic(spark):
    from etl_poc_spark.operators.curation import length_bucket_padding

    df = spark.createDataFrame([(1,), (64,), (65,), (100,), (200,)], "n long")
    rows = {r["band_max"]: r for r in length_bucket_padding(df, "n", 64).collect()}
    # bands: 64 holds {1, 64}, 128 holds {65, 100}, 256 holds {200}
    assert set(rows) == {64, 128, 256}
    assert rows[64]["n_seqs"] == 2 and rows[64]["sum_tokens"] == 65
    assert rows[64]["bucketed_waste"] == 2 * 64 - 65
    assert rows[128]["bucketed_waste"] == 2 * 128 - 165
    assert rows[256]["bucketed_waste"] == 256 - 200
    # unbucketed: everything pads to the global max (200)
    assert rows[64]["unbucketed_waste"] == 2 * 200 - 65
    assert rows[256]["unbucketed_waste"] == 0


def test_exact_ols_fit_recovers_known_line(spark):
    from etl_poc_spark.operators.curation import exact_ols_fit

    # y = 7 + 3x exactly: the fit must return it exactly (dets are exact
    # integers; each coefficient is one double division)
    df = spark.createDataFrame([(x, 7 + 3 * x) for x in range(1, 30)], "x long, y long")
    row = exact_ols_fit(df, "x", "y").collect()[0]
    assert row["n_obs"] == 29
    assert row["w0"] == 7.0 and row["w1"] == 3.0


def test_exact_ols_fit_overflow_raises_not_null(spark):
    """Inputs past the DECIMAL(38,0) envelope (n² · max|x|³ ≥ 1e38) must
    raise a clear error, not silently return NULL coefficients — the
    pre-r15 docstring promised |x| ≤ 1e12 at 1e9 rows, which actually
    overflows by ~4 orders (ADVICE r14)."""
    import pytest

    from etl_poc_spark.operators.curation import exact_ols_fit

    # 1000 rows at |x|,|y| ~ 1e12: Σy·Σx² ~ (1e15)(1e27) = 1e42 ≫ 1e38
    big = 10**12
    df = spark.createDataFrame(
        [(big - i, big - 3 * i) for i in range(1000)], "x long, y long"
    )
    # ANSI mode (Spark 4 default): the decimal cast itself throws
    with pytest.raises(
        Exception, match="exact_ols_fit|NUMERIC_VALUE_OUT_OF_RANGE|overflow"
    ):
        exact_ols_fit(df, "x", "y").collect()
    # non-ANSI mode: the cast returns NULL — the explicit guard must
    # convert that silent NULL into the raise (the ADVICE failure mode)
    ansi_was = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="exact_ols_fit"):
            exact_ols_fit(df, "x", "y").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi_was)
    # and the envelope's inside is still exact: same shape, scaled to 1e6
    small = 10**6
    df2 = spark.createDataFrame(
        [(small - i, 2 * (small - i) + 5) for i in range(1000)], "x long, y long"
    )
    row = exact_ols_fit(df2, "x", "y").collect()[0]
    assert row["w0"] == 5.0 and row["w1"] == 2.0


def test_exact_ols_fit_sum_overflow_raises_not_null(spark):
    """ADVICE r15: per-row products that each fit DECIMAL(38,0) can still
    overflow in the AGGREGATE — x ~ 5e18 gives x² = 2.5e37 (fits) but ten
    of them sum to 2.5e38 (overflows). Non-ANSI Spark NULLs the sum, which
    pre-fix made `sums_ok` false and skipped the raise, silently returning
    NULL coefficients — exactly the failure the guard claims impossible."""
    import pytest

    from etl_poc_spark.operators.curation import exact_ols_fit

    big = 5 * 10**18  # < bigint max 9.2e18; x*x = 2.5e37 < 1e38 per row
    df = spark.createDataFrame(
        [(big - i, i + 1) for i in range(10)], "x long, y long"
    )
    ansi_was = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="exact_ols_fit"):
            exact_ols_fit(df, "x", "y").collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi_was)
    # ANSI mode raises on its own (either engine error or the guard)
    with pytest.raises(
        Exception, match="exact_ols_fit|NUMERIC_VALUE_OUT_OF_RANGE|overflow"
    ):
        exact_ols_fit(df, "x", "y").collect()


def test_exact_ols_fit_null_inputs_stay_null_not_overflow(spark):
    """All-NULL x must NOT be misread as overflow by the sum-support
    guard: sums are NULL from absent inputs, not from overflow — the fit
    returns NULL coefficients quietly (and empty input keeps n_obs=0)."""
    from etl_poc_spark.operators.curation import exact_ols_fit

    df = spark.createDataFrame(
        [(None, 1), (None, 2)], "x long, y long"
    )
    row = exact_ols_fit(df, "x", "y").collect()[0]
    assert row["n_obs"] == 2 and row["w0"] is None and row["w1"] is None
    empty = spark.createDataFrame([], "x long, y long")
    row = exact_ols_fit(empty, "x", "y").collect()[0]
    assert row["n_obs"] == 0 and row["w0"] is None and row["w1"] is None


def test_epoch_shuffle_key_is_per_epoch_permutation(spark):
    from pyspark.sql import functions as F

    from etl_poc_spark.operators.curation import epoch_shuffle_key

    df = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    k0 = df.select("doc_id", epoch_shuffle_key(F.col("doc_id"), 0).alias("k"))
    k0b = df.select("doc_id", epoch_shuffle_key(F.col("doc_id"), 0).alias("k"))
    k1 = df.select("doc_id", epoch_shuffle_key(F.col("doc_id"), 1).alias("k"))
    order0 = [r["doc_id"] for r in k0.orderBy("k").collect()]
    order0b = [r["doc_id"] for r in k0b.orderBy("k").collect()]
    order1 = [r["doc_id"] for r in k1.orderBy("k").collect()]
    assert order0 == order0b                      # reproducible
    assert order0 != order1                       # epochs independent
    assert sorted(order0) == sorted(order1) == list(range(200))  # permutations


def test_leakage_safe_folds_vs_id_hash(spark, sf_dir):
    """Group-fingerprint folding must co-assign every duplicate copy (zero
    groups straddle folds); the naive id-hashed split leaks on the same
    corpus — the property that motivates the operator."""
    from pyspark.sql import functions as F

    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.curation import hash_bucket

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    built = d.unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.upper(F.col("text")), F.lit(" !!")).alias("text"),
        )
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    fp = built.select("doc_id", F.md5(norm).alias("fp"))
    by_group = fp.select(
        "fp", hash_bucket(F.col("fp"), 5, "fold").alias("fold")
    )
    assert (
        by_group.groupBy("fp")
        .agg(F.countDistinct("fold").alias("k"))
        .filter("k > 1")
        .count()
        == 0
    )
    by_id = fp.select("fp", hash_bucket(F.col("doc_id"), 5, "fold").alias("fold"))
    leaky = (
        by_id.groupBy("fp")
        .agg(F.countDistinct("fold").alias("k"), F.count(F.lit(1)).alias("n"))
        .filter("n > 1 AND k > 1")
        .count()
    )
    assert leaky > 0   # the id-hashed split demonstrably leaks


def test_quality_threshold_sweep_monotone(spark, sf_dir):
    from etl_poc_spark.queries.documents_q import quality_threshold_sweep

    rows = sorted(
        quality_threshold_sweep(spark, sf_dir).collect(),
        key=lambda r: r["threshold_tenths"],
    )
    assert [r["threshold_tenths"] for r in rows] == list(range(11))
    kept = [r["n_kept"] for r in rows]
    assert kept == sorted(kept, reverse=True)          # monotone non-increasing
    assert rows[0]["keep_rate"] == 1.0                 # t=0 keeps everything
    wc = [r["wc_kept"] for r in rows]
    assert wc == sorted(wc, reverse=True)


def test_yaml_exact_dedup_quality_key(spark):
    """exact_dedup with quality_key keeps the highest-quality copy per
    group (RefinedWeb-style retention) instead of the min-id default;
    multi-key grouping fingerprints the key tuple."""
    from etl_poc_spark.llm.provider import StubProvider
    from etl_poc_spark.plans.yaml_pipeline import _apply_op

    docs = spark.createDataFrame(
        [
            (1, "same text", 10),
            (2, "same text", 99),     # best copy — must survive
            (3, "same text", 50),
            (4, "unique text", 1),
        ],
        "doc_id long, text string, q long",
    )
    out = _apply_op(
        docs,
        {"name": "d", "type": "exact_dedup", "keys": ["text"],
         "id": "doc_id", "quality_key": "q"},
        StubProvider(),
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 4]
    # default stays min-id
    out2 = _apply_op(
        docs,
        {"name": "d", "type": "exact_dedup", "keys": ["text"], "id": "doc_id"},
        StubProvider(),
    )
    assert sorted(r["doc_id"] for r in out2.collect()) == [1, 4]
    # multi-key: group by (text, lang-ish second key)
    docs2 = spark.createDataFrame(
        [(1, "t", "en", 5), (2, "t", "en", 9), (3, "t", "fr", 1)],
        "doc_id long, text string, lang string, q long",
    )
    out3 = _apply_op(
        docs2,
        {"name": "d", "type": "exact_dedup", "keys": ["text", "lang"],
         "id": "doc_id", "quality_key": "q"},
        StubProvider(),
    )
    assert sorted(r["doc_id"] for r in out3.collect()) == [2, 3]
    assert set(out3.columns) == {"doc_id", "text", "lang", "q"}
    # NULL-safety (ADVICE r14): concat_ws skips NULL columns, so
    # ('a\x1fb', NULL) and ('a', 'b') used to collide into one group and
    # the lower-quality tuple was silently dropped. The length-prefixed
    # fingerprint keeps them distinct; NULL is its own group value
    # (matching the no-quality_key groupBy semantics).
    docs3 = spark.createDataFrame(
        [
            (1, "a\x1fb", None, 5),
            (2, "a", "b", 1),
            (3, "a", None, 7),
            (4, "a", None, 2),       # true dup of 3 — only this one drops
        ],
        "doc_id long, text string, lang string, q long",
    )
    out4 = _apply_op(
        docs3,
        {"name": "d", "type": "exact_dedup", "keys": ["text", "lang"],
         "id": "doc_id", "quality_key": "q"},
        StubProvider(),
    )
    assert sorted(r["doc_id"] for r in out4.collect()) == [1, 2, 3]


def test_perplexity_rounding_boundary_margin(spark):
    """ADVICE r15 #4 (latent flaky-gate risk): doc_lm_perplexity's oracle
    gates hash-exact on round(avg_nll, 9)/round(ppl, 6) of transcendental
    sums computed by two libms; a value within ~1e-13 of a rounding
    boundary could flip the last digit between engines. This guard
    MEASURES the margin at the driver's oracle scales (sf0.001/sf0.01):
    every emitted value must sit > 1e-4 scaled units from the round-half
    boundary — 1000x the documented ~1e-13-absolute cross-engine noise at
    the 1e9 granularity (measured r16: min 6.2e-4). If fixture growth
    ever plants a boundary-adjacent value, THIS test fails loudly instead
    of the gate flaking. sf1 additionally carries digest pins, which
    compare full rows before hashing."""
    import math

    from etl_poc_spark.io import load_table
    from etl_poc_spark.operators.ngram_lm import perplexity_filter

    def scaled_dist(x: float, scale: float) -> float:
        f = abs(x) * scale
        return abs(f - math.floor(f) - 0.5)

    for sf in ("0.001", "0.01"):
        d = load_table(spark, f"/root/testdata/sf{sf}", "documents")
        rows = perplexity_filter(d, k=1.0).select("avg_nll", "ppl").collect()
        assert rows
        min_nll = min(scaled_dist(r["avg_nll"], 1e9) for r in rows)
        min_ppl = min(scaled_dist(r["ppl"], 1e6) for r in rows)
        assert min_nll > 1e-4, (sf, min_nll)
        assert min_ppl > 1e-4, (sf, min_ppl)
