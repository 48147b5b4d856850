"""Operator-semantics tests for dedup / similarity / text / multimodal.

Oracle equality is covered by the driver gate (tools/check_oracles.py);
these tests pin the SEMANTICS: near-dups are found, keepers are minimal
ids, stubs fail loudly, Arrow batching preserves content hashes.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from anomaly_detector_faironchain_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from anomaly_detector_faironchain_spark.operators import text as text_ops

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_exact_dedup_finds_copies(spark, docs):
    aug = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    out = dedup.exact_dedup(aug, "doc_id", "text")
    n = docs.count()
    assert out.filter("is_dup").count() >= n  # every copy flagged
    # keeper is always the minimum id of its hash group
    bad = out.groupBy("content_md5").agg(
        F.min("id").alias("mn"), F.first("keeper_id").alias("k")
    ).filter("mn <> k").count()
    assert bad == 0


def test_minhash_lsh_recovers_perturbed_neardups(spark, docs):
    base = docs.select("doc_id", "text").limit(50)
    near = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    aug = base.unionByName(near)
    sh = dedup.shingles(aug, "doc_id", "text", n=3)
    sigs = dedup.minhash_signatures(sh, k=12)
    cand = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=3)
    jac = dedup.jaccard_for_pairs(sh, cand).filter("jaccard >= 0.6")
    found = {(r.id_a, r.id_b) for r in jac.collect()}
    expected = {(r.doc_id, r.doc_id + 10_000) for r in base.collect()}
    # LSH with 4x3 bands at jaccard≈0.95+ has essentially full recall
    assert len(found & expected) >= 0.9 * len(expected)


def test_simhash_identical_docs_equal(spark, docs):
    one = docs.limit(5).select("doc_id", "text")
    copy = one.select((F.col("doc_id") + 777).alias("doc_id"), "text")
    sim = dedup.simhash16(one.unionByName(copy), "doc_id", "text")
    rows = {r.id: r.simhash for r in sim.collect()}
    for r in one.collect():
        assert rows[r.doc_id] == rows[r.doc_id + 777]


def test_cosine_topk_self_duplicate_ranks_first(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # plant an exact duplicate of vec 0 under id 90001
    dup = emb.filter("vec_id = 0").select(
        F.lit(90001).cast("long").alias("vec_id"), "embedding", "label"
    )
    out = similarity.cosine_topk(
        emb.unionByName(dup), "vec_id", "embedding", [0], k=3
    ).collect()
    top = sorted(out, key=lambda r: -r.cos)[0]
    assert top.nid == 90001 and top.cos == pytest.approx(1.0, abs=1e-5)


def test_lsh_buckets_deterministic_and_ann_subset_of_bucket(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    b1 = {r.id: r.bucket for r in similarity.lsh_buckets(emb, "vec_id", "embedding").collect()}
    b2 = {r.id: r.bucket for r in similarity.lsh_buckets(emb, "vec_id", "embedding").collect()}
    assert b1 == b2
    ann = similarity.lsh_ann_topk(emb, "vec_id", "embedding", [0], k=3).collect()
    for r in ann:
        assert b1[r.nid] == b1[0]  # neighbors come from the query's bucket


def test_token_stats_ranges(spark, docs):
    out = text_ops.token_stats(docs, "doc_id", "text")
    bad = out.filter(
        (F.col("alpha_ratio") < 0) | (F.col("alpha_ratio") > 1)
        | (F.col("stop_ratio") < 0) | (F.col("stop_ratio") > 1)
        | (F.col("quality") < 0) | (F.col("quality") > 100)
        | (F.col("n_tokens") <= 0)
    ).count()
    assert bad == 0


def test_binary_metadata_matches_hashlib(spark, docs):
    payloads = multimodal.to_binary_payload(docs.limit(20), "doc_id", "text")
    meta = {r.id: r for r in multimodal.binary_metadata(payloads).collect()}
    for row in docs.limit(20).collect():
        m = meta[row.doc_id]
        raw = row.text.encode("utf-8")
        assert m.n_bytes == len(raw)
        assert m.sha256_hex == hashlib.sha256(raw).hexdigest()
        assert m.head_byte == raw[0]


def test_image_decode_stub_fails_loudly_and_fake_is_deterministic(spark, docs):
    payloads = multimodal.to_binary_payload(docs.limit(5), "doc_id", "text")
    with pytest.raises(Exception, match="NotImplementedError|codecs unavailable"):
        multimodal.decode_image_features(payloads, fake=False).collect()
    a = multimodal.decode_image_features(payloads, fake=True).collect()
    b = multimodal.decode_image_features(payloads, fake=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r.width > 0 and r.height > 0 for r in a)


def test_jaccard_hot_shingle_fanout_stays_linear_in_candidates(spark):
    # VERDICT r1 #3: one boilerplate shingle shared by EVERY doc must not
    # produce a doc×doc intermediate. 100 docs share "common common common";
    # only 3 candidate pairs are asked for.
    n = 100
    rows = [
        (i, f"common common common unique{i}a unique{i}b unique{i}c")
        for i in range(n)
    ]
    # make pair (0,1) true near-dups
    rows[1] = (1, "common common common unique0a unique0b uniqueX")
    df = spark.createDataFrame(rows, "id_a long, text string").select(
        F.col("id_a").alias("doc_id"), "text"
    )
    sh = dedup.shingles(df, "doc_id", "text", n=3)
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    out = dedup.jaccard_for_pairs(sh, pairs)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    # every doc has 4 shingles; all pairs share the 1 hot shingle
    assert abs(got[(2, 3)] - 1 / 7) < 1e-12
    assert got[(0, 1)] > got[(2, 3)]
    # the implementation's intermediate is pairs ⋈ a-side shingles:
    # Σ|shingles(a)| over 3 pairs = 12 rows. The old inverted-index
    # self-join would have materialized ≥ C(100,2) = 4950 rows from the
    # hot shingle alone before any candidate restriction.
    sa = sh.select(F.col("id").alias("id_a"), "shingle")
    assert pairs.join(sa, "id_a").count() == 12


def test_simhash64_identity_and_hamming(spark, docs):
    aug = docs.select("doc_id", "text").limit(20).unionByName(
        docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text").limit(20)
    )
    sim = dedup.simhash64(aug, "doc_id", "text")
    rows = {r.id: r.simhash64 for r in sim.collect()}
    for i in list(rows)[:20]:
        if i < 10_000:
            assert rows[i] == rows[i + 10_000]  # identical text → same hash
            assert len(rows[i]) == 16 and all(c in "0123456789abcdef" for c in rows[i])
    a = sim.select(F.col("id").alias("id_a"), F.col("simhash64").alias("ha"))
    b = sim.select(F.col("id").alias("id_b"), F.col("simhash64").alias("hb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") + 10_000 == F.col("id_b"))
    ham = pairs.select(dedup.hamming64(F.col("ha"), F.col("hb")).alias("h"))
    assert ham.agg(F.max("h")).collect()[0][0] == 0


def test_multi_table_lsh_amplifies_neardup_recall(spark):
    # plant near-duplicates (v + 0.05*reverse(v), cos ~0.997) of every
    # vector; 1-table LSH misses the pairs whose perturbation flips a
    # plane sign, OR-amplification with a second table recovers a
    # superset. Both variants must only return true pairs (cos >= 0.9 is
    # exact after the rescore, so precision is 1 by construction).
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.zip_with(
            "embedding", F.reverse("embedding"),
            lambda x, y: x.cast("double") + F.lit(0.05) * y.cast("double"),
        ).alias("embedding"),
    )
    orig = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    aug = orig.unionByName(pert)

    def pairs(n_tables):
        rows = similarity.embedding_neardup_pairs(
            aug, "vec_id", "embedding", threshold=0.9,
            n_planes=8, n_tables=n_tables,
        ).collect()
        return {(r.id_a, r.id_b) for r in rows}

    p1, p2 = pairs(1), pairs(2)
    assert p1 <= p2, "2-table candidates must be a superset of 1-table"
    assert len(p2) > len(p1), "second table should recover missed pairs"
    n = emb.count()
    # every found pair is a planted (v, v+100000) pair at this threshold
    assert all(b == a + 100000 for a, b in p2)
    assert len(p2) <= n


def test_embedding_neardup_bucket_cap_bounds_fanout(spark):
    # degenerate corpus: every vector identical → one bucket per table;
    # uncapped would be n*(n-1)/2 pairs, the cap bounds it to
    # max_bucket*(max_bucket-1)/2 per table
    n = 200
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("embedding"),
    )
    capped = similarity.embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.5, n_planes=4,
        n_tables=2, max_bucket=10,
    )
    assert capped.count() == 10 * 9 // 2  # both tables keep the same ids
    full = similarity.embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.5, n_planes=4, n_tables=1,
    )
    assert full.count() == n * (n - 1) // 2


def test_simhash_neardup_banding_matches_bruteforce(spark, docs):
    """Pigeonhole exactness: the banded equi-join path must return the
    IDENTICAL pair set a brute-force all-pairs hamming scan returns, and
    its plan must contain no cartesian product."""
    base = docs.select("doc_id", "text").limit(40)
    near = base.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    aug = base.unionByName(near)
    k = 7
    banded = dedup.simhash_neardup(aug, "doc_id", "text", max_hamming=k)
    assert "CartesianProduct" not in banded._jdf.queryExecution().executedPlan().toString()

    sim = dedup.simhash64(aug, "doc_id", "text")
    a = sim.select(F.col("id").alias("id_a"), F.col("simhash64").alias("ha"))
    b = sim.select(F.col("id").alias("id_b"), F.col("simhash64").alias("hb"))
    brute = (
        a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", dedup.hamming64(F.col("ha"), F.col("hb")))
        .filter(F.col("hamming") <= k)
    )
    got = {(r.id_a, r.id_b, r.hamming) for r in banded.collect()}
    want = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
    assert got == want
    # dropping one word flips only a few bits: the planted pairs appear
    planted = {(i, i + 10_000) for i, _ in
               ((r.doc_id, None) for r in base.collect())}
    assert {(x, y) for x, y, _ in got} & planted


def test_simhash_neardup_bucket_cap_bounds_fanout(spark):
    """max_bucket drops degenerate buckets (identical signatures) so the
    candidate set stays bounded: 30 byte-identical docs form a bucket of
    30 in EVERY band -> capped run returns no pairs for them."""
    rows = [(i, "the same text body repeated for everyone") for i in range(30)]
    rows += [(100, "a genuinely unique document body here"),
             (101, "a genuinely unique document body here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.simhash_neardup(df, "doc_id", "text", max_hamming=7,
                                   max_bucket=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert all(x not in range(30) and y not in range(30) for x, y in got)
    assert (100, 101) in got  # the small bucket's pair survives


def test_shingles_short_docs_yield_nothing(spark):
    """Docs shorter than n tokens emit zero shingles instead of erroring
    (sequence(1, 0) is descending in Spark — the guard matters)."""
    from anomaly_detector_faironchain_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two"), (3, "one"), (4, " ")],
        "doc_id long, text string",
    )
    got = dedup.shingles(df, "doc_id", "text", n=3).collect()
    assert {r.id for r in got} == {1}
    assert len(got) == 2


def test_contamination_flags_marks_overlapping_docs(spark):
    from anomaly_detector_faironchain_spark.operators import dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different words with no overlap at all here"),
            (3, "prefix text then the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "bid long, btext string",
    )
    got = {
        r.id: (r.n_hit_ngrams, r.contaminated)
        for r in dedup.contamination_flags(
            corpus, bench, "doc_id", "text",
            bench_id_col="bid", bench_text_col="btext", n=5,
        ).collect()
    }
    # bench has 5 5-grams; doc1 contains all 5, doc3 contains all 5,
    # doc2 none
    assert got[1] == (5, True)
    assert got[2] == (0, False)
    assert got[3] == (5, True)


def test_repetition_stats_fractions(spark):
    from anomaly_detector_faironchain_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),      # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "w x y z"),          # 3 distinct of 3
            (3, "t"),                # shorter than n
        ],
        "doc_id long, text string",
    )
    got = {r.id: r for r in text_ops.repetition_stats(df, "doc_id", "text", n=2).collect()}
    assert (got[1].n_ngrams, got[1].n_distinct_ngrams) == (5, 2)
    assert abs(got[1].dup_ngram_frac - 0.6) < 1e-9
    assert abs(got[1].top_ngram_frac - 0.6) < 1e-9
    assert got[2].dup_ngram_frac == 0.0
    assert got[3].n_ngrams == 0 and got[3].dup_ngram_frac == 0.0


def test_redact_pii_masks_and_counts(spark):
    from anomaly_detector_faironchain_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "mail me at alice.smith+x@corp.example.org or call 555-867-5309"),
            (2, "ssn 123-45-6789 should mask as ssn not phone"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r.id: r for r in text_ops.redact_pii(df, "doc_id", "text").collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1 and got[1].n_ssn == 0
    assert "|||EMAIL|||" in got[1].redacted_text
    assert "|||PHONE|||" in got[1].redacted_text
    assert "alice" not in got[1].redacted_text
    # SSN masks before the phone pattern can eat its tail digits
    assert got[2].redacted_text == "ssn |||SSN||| should mask as ssn not phone"
    assert got[2].n_ssn == 1
    assert got[3].redacted_text == "nothing sensitive here"


def test_c4_line_filter_keeps_terminal_punct_lines(spark):
    from anomaly_detector_faironchain_spark.operators import text as text_ops

    doc = "\n".join([
        "This is a proper sentence.",       # kept
        "menu home about",                   # dropped: no terminal punct
        "Click!",                            # dropped: < 3 words
        'He said "stop right there."',       # kept (quote end)
        "Is this kept too?",                 # kept
    ])
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = text_ops.c4_line_filter(df, "doc_id", "text").collect()[0]
    assert r.n_lines == 5 and r.n_kept_lines == 3
    assert r.clean_text.split("\n") == [
        "This is a proper sentence.",
        'He said "stop right there."',
        "Is this kept too?",
    ]


def test_fuzzy_key_join_matches_bruteforce(spark):
    """FastSS deletion-neighborhood join vs brute-force python
    levenshtein over all cross pairs — exact at d=1 and d=2."""
    from anomaly_detector_faironchain_spark.operators import fuzzy

    left = [(i, k) for i, k in enumerate(
        ["alpha", "alphq", "alpa", "beta", "betta", "gamma", "delta", ""]
    )]
    right = [(100 + i, k) for i, k in enumerate(
        ["alpha", "lpha", "bta", "gamm", "gamora", "epsilon", "x"]
    )]
    ldf = spark.createDataFrame(left, "lid long, lkey string")
    rdf = spark.createDataFrame(right, "rid long, rkey string")

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    for d in (1, 2):
        got = {
            (r.id_l, r.id_r, r.dist)
            for r in fuzzy.fuzzy_key_join(
                ldf, rdf, "lid", "lkey", "rid", "rkey", max_dist=d
            ).collect()
        }
        want = {
            (i, j, lev(a, b))
            for i, a in left for j, b in right if lev(a, b) <= d
        }
        assert got == want, f"d={d}"


def test_passage_dedup_strips_shared_passages_only(spark):
    hdr = "license header text copyright notice all rights reserved do not"
    rows = [
        (i, hdr + " " + " ".join(f"tok{i}_{j}" for j in range(17)))
        for i in range(6)
    ]
    # doc 6 is NOTHING BUT the shared header: every passage is boilerplate
    rows.append((6, hdr))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.passage_dedup(df, "doc_id", "text", passage_tokens=10,
                              max_docs=2)
    got = {r["id"]: r for r in out.collect()}
    for i in range(6):
        r = got[i]
        assert (r["n_passages"], r["n_removed"]) == (3, 1)
        assert r["clean_text"].startswith(f"tok{i}_0 ")
        assert hdr not in r["clean_text"]
    # all-boilerplate doc: counted, fully removed, clean_text is null
    assert got[6]["n_passages"] == 1 and got[6]["n_removed"] == 1
    assert got[6]["clean_text"] is None
    # tail passage (tokens 10..16 of the body = 7 tokens) survives intact:
    # reassembly preserves original passage order
    assert got[0]["clean_text"].split(" ")[10] == "tok0_10"


def test_passage_dedup_boilerplate_set_is_broadcast(spark):
    df = spark.createDataFrame([(0, "a b c"), (1, "a b c")],
                               ["doc_id", "text"])
    out = dedup.passage_dedup(df, "doc_id", "text")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # the corpus joins the (tiny) repeated-passage set as a broadcast —
    # no shuffle of exploded passage text against the frequency table
    assert "BroadcastHashJoin" in plan


def test_sample_frames_and_resize_plumbing(spark, docs):
    payloads = multimodal.to_binary_payload(docs, "doc_id", "text")
    frames = multimodal.sample_frames(payloads, frame_bytes=32, stride=2)
    one = docs.filter(F.col("doc_id") == 0).collect()[0]
    raw = one["text"].encode()
    got = sorted(
        frames.filter(F.col("id") == 0).collect(), key=lambda r: r.frame_idx
    )
    # frame_idx is the container index: 0, 2, 4, ...
    assert [r.frame_idx for r in got] == list(
        range(0, (len(raw) + 31) // 32, 2)
    )
    for r in got:
        expect = raw[r.frame_idx * 32:(r.frame_idx + 1) * 32]
        assert bytes(r.frame) == expect
        assert r.frame_sha256 == hashlib.sha256(expect).hexdigest()
    # map-only: the frame fan-out introduces no shuffle
    plan = frames._sc._jvm.PythonSQLUtils.explainString(
        frames._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan

    # resize: real decode fails loudly, fake path is deterministic + bounded
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        multimodal.resize_images(payloads).limit(1).collect()
    thumbs = multimodal.resize_images(payloads, max_bytes=64, fake=True)
    t0 = thumbs.filter(F.col("id") == 0).collect()[0]
    step = max(1, -(-len(raw) // 64))
    assert bytes(t0.thumb) == raw[::step] and t0.thumb_bytes <= 64


def test_random_projection_is_linear_and_map_only(spark):
    from anomaly_detector_faironchain_spark.operators import similarity

    rows = [(0, [float(d % 7 - 3) for d in range(64)])]
    rows.append((1, [2.0 * x for x in rows[0][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.random_projection(df, "vec_id", "embedding", out_dim=8)
    got = {(r.id, r.p): r.s for r in out.collect()}
    assert len(got) == 16
    # linearity: proj(2v) = 2 proj(v) (rounding at 6dp)
    for p in range(8):
        assert got[(1, p)] == pytest.approx(2 * got[(0, p)], abs=2e-6)
    # the sign matrix is plan literals: zero shuffles, zero UDFs
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # (the createDataFrame scan node mentions PythonRDD — only UDF
    # eval nodes would mean Python in the ROW path)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_cap_per_group_keeps_topk_deterministically(spark):
    from anomaly_detector_faironchain_spark.operators import curation

    rows = [(i, f"d{i % 3}", float(100 - i)) for i in range(30)]
    rows += [(100, "d1", 99.0)]  # ties with id 1 on score 99 → id 1 first
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = curation.cap_per_group(df, "source", "score", 2, "doc_id")
    got = sorted((r.source, r.group_rank, r.doc_id) for r in out.collect())
    assert got == [
        ("d0", 1, 0), ("d0", 2, 3),
        ("d1", 1, 1), ("d1", 2, 100),     # 99.0 tie broken by min doc_id
        ("d2", 1, 2), ("d2", 2, 5),
    ]


def test_bloom_screen_mechanics(spark, docs):
    """The Bloom stage must have NO false negatives (every true dup is
    screened in) and the exact verify must clear the screen's false
    positives; the screen itself is a map-side might_contain against a
    1-row aggregated filter binary."""
    corpus = docs.select("doc_id", "text")
    history = corpus.filter(F.col("doc_id") % 3 == 0)
    out = dedup.bloom_screen(corpus, history, "doc_id", "text",
                             expected_items=1000, num_bits=8000)
    rows = {r.id: r for r in out.collect()}
    for i, r in rows.items():
        if i % 3 == 0:
            assert r.maybe_dup and r.is_dup     # no false negatives
        else:
            assert not r.is_dup                 # verify clears screen FPs
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # screen = Arrow-batched probe (map-side), verify = broadcast join
    assert "ArrowEvalPython" in plan and "BroadcastExchange" in plan


def test_bm25_prefers_term_dense_short_docs(spark):
    rows = [
        (0, "data query table data"),            # dense, short
        (1, "data " + "filler " * 40 + "query"),  # hits diluted
        (2, "nothing relevant here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in text_ops.bm25_scores(
        df, "doc_id", "text", ["data", "query", "table"]).collect()}
    assert got[0].n_hit_terms == 3 and got[1].n_hit_terms == 2
    assert got[0].bm25 > got[1].bm25 > got[2].bm25 == 0.0


def test_keep_best_per_cluster_policy(spark):
    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20)],
        "id long, component long",
    )
    quality = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 90), (4, 10), (5, 10)],
        "id long, quality long",
    )
    out = {r.id: r.keep for r in dedup.keep_best_per_cluster(
        clusters, quality).collect()}
    # cluster 10: quality tie at 90 between ids 2,3 → min id 2 kept
    # cluster 20: tie at 10 between 4,5 → 4 kept
    assert out == {1: False, 2: True, 3: False, 4: True, 5: False}


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, "abcd")], "doc_id long, text string"
    )
    got = {r.id: r for r in text_ops.char_entropy(df, "doc_id", "text").collect()}
    assert got[0].entropy_bits == 0.0 and got[0].distinct_chars == 1
    assert got[1].entropy_bits == pytest.approx(1.0)
    assert got[2].entropy_bits == pytest.approx(2.0)
    # map-only: no shuffle, no UDF in the row path
    out = text_ops.char_entropy(df, "doc_id", "text")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_doc_strategy = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "xx"]),
        min_size=1, max_size=37,
    ),
    min_size=2, max_size=12,
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs_tokens=_doc_strategy)
def test_passage_dedup_matches_python_mirror(spark, docs_tokens):
    """Exact semantics property: passage_dedup must equal a direct python
    re-computation — split into 5-token passages, remove every passage
    occurring in more than max_docs DISTINCT documents, reassemble in
    order (null when nothing survives)."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in dedup.passage_dedup(
        df, "doc_id", "text", passage_tokens=5, max_docs=1).collect()}

    passages = {
        i: [" ".join(toks[j * 5:(j + 1) * 5])
            for j in range((len(toks) + 4) // 5)]
        for i, toks in enumerate(docs_tokens)
    }
    seen_in = {}
    for i, ps in passages.items():
        for p in set(ps):
            seen_in.setdefault(p, set()).add(i)
    boiler = {p for p, ids in seen_in.items() if len(ids) > 1}
    for i, ps in passages.items():
        kept = [p for p in ps if p not in boiler]
        r = out[i]
        assert r["n_passages"] == len(ps)
        assert r["n_removed"] == sum(p in boiler for p in ps)
        assert r["clean_text"] == (" ".join(kept) if kept else None)


def test_char_entropy_empty_and_null_text(spark):
    """Empty documents are common in crawl corpora: sequence(1, 0) is a
    DESCENDING Spark sequence and the p·log2(p) terms divide by zero, so
    the unguarded expression ANSI-aborts. Empty → (0, 0, 0.0); NULL text
    propagates NULLs (matching the DuckDB oracle on both)."""
    df = spark.createDataFrame(
        [(0, ""), (1, None), (2, "ab")], "doc_id long, text string"
    )
    got = {r.id: r for r in text_ops.char_entropy(df, "doc_id", "text").collect()}
    assert (got[0].n_chars, got[0].distinct_chars, got[0].entropy_bits) == (0, 0, 0.0)
    assert got[1].n_chars is None and got[1].distinct_chars is None
    assert got[1].entropy_bits is None
    assert got[2].distinct_chars == 2 and got[2].entropy_bits == pytest.approx(1.0)


def test_lsh_arrow_buckets_match_explode_form(spark):
    """The Arrow matmul path (scale default) and the explode-join-agg
    path (oracle form) must assign every vector the identical bucket —
    single-table and multi-table."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = similarity.lsh_buckets(emb, "vec_id", "embedding", 8, method="arrow")
    e = similarity.lsh_buckets(emb, "vec_id", "embedding", 8, method="explode")
    diff = a.join(e.withColumnRenamed("bucket", "b2"), "id") \
        .filter("bucket <> b2").count()
    assert diff == 0
    assert a.count() == e.count() == emb.count()

    am = similarity.lsh_buckets_multi(
        emb, "vec_id", "embedding", 4, n_tables=3, method="arrow")
    em = similarity.lsh_buckets_multi(
        emb, "vec_id", "embedding", 4, n_tables=3, method="explode")
    diff = am.join(em.withColumnRenamed("bucket", "b2"), ["id", "tbl"]) \
        .filter("bucket <> b2").count()
    assert diff == 0
    assert am.count() == em.count() == emb.count() * 3


def test_lsh_arrow_infers_dim_from_data(spark):
    """Regression: the Arrow path must derive the plane-matrix width from
    the vectors themselves (the explode path always did, via posexplode)
    — a corpus whose embedding dim differs from the module default used
    to crash the matmul with a core-dimension mismatch."""
    import numpy as np

    rng = np.random.default_rng(7)
    for dim in (3, 8, 100):
        rows = [(i, [float(v) for v in rng.normal(size=dim)])
                for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        a = similarity.lsh_buckets(df, "vec_id", "embedding", 8,
                                   method="arrow")
        e = similarity.lsh_buckets(df, "vec_id", "embedding", 8,
                                   method="explode", dim=dim)
        diff = a.join(e.withColumnRenamed("bucket", "b2"), "id") \
            .filter("bucket <> b2").count()
        assert diff == 0 and a.count() == 40
        am = similarity.lsh_buckets_multi(df, "vec_id", "embedding", 4,
                                          n_tables=2, method="arrow")
        em = similarity.lsh_buckets_multi(df, "vec_id", "embedding", 4,
                                          n_tables=2, method="explode",
                                          dim=dim)
        diff = am.join(em.withColumnRenamed("bucket", "b2"),
                       ["id", "tbl"]).filter("bucket <> b2").count()
        assert diff == 0 and am.count() == 80


def test_bloom_screen_validates_num_bits(spark, docs):
    corpus = docs.select("doc_id", "text").limit(10)
    for bad in (0, 4, 1001):
        with pytest.raises(ValueError, match="num_bits"):
            dedup.bloom_screen(corpus, corpus, "doc_id", "text", num_bits=bad)


def test_bloom_screen_merges_partials_executor_side(spark, docs):
    """Many history partitions must still produce correct screening (the
    partial bitmaps are OR-merged in a two-level executor-side fan-in;
    the driver materializes exactly one bitmap — asserted inside
    bloom_screen itself)."""
    corpus = docs.select("doc_id", "text")
    history = corpus.filter(F.col("doc_id") % 3 == 0).repartition(16)
    out = dedup.bloom_screen(corpus, history, "doc_id", "text",
                             expected_items=1000, num_bits=8000)
    rows = {r.id: r for r in out.collect()}
    for i, r in rows.items():
        assert r.is_dup == (i % 3 == 0)


def test_keep_best_per_cluster_missing_quality_ranked_last(spark):
    """A cluster member with no quality row is retained (never silently
    dropped) and can never outrank a scored member."""
    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (7, 20)], "id long, component long"
    )
    quality = spark.createDataFrame(
        [(1, 5), (3, 9)], "id long, quality long"  # id 2, 7 unscored
    )
    rows = {r.id: r for r in dedup.keep_best_per_cluster(
        clusters, quality).collect()}
    assert set(rows) == {1, 2, 3, 7}          # nobody dropped
    assert rows[3].keep and not rows[1].keep
    assert not rows[2].keep and rows[2].quality is None
    assert rows[7].keep                        # sole (unscored) member kept


def test_cap_per_group_bounds_mega_group_window_input(spark):
    """Two-phase top-k: a mega-group funnels at most k rows per input
    partition into the global window, and the result equals the naive
    single-window top-k."""
    n = 5000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("mega").alias("source"),
        (F.col("id") % 97).cast("double").alias("score"),
    ).repartition(8)
    from anomaly_detector_faironchain_spark.operators import curation

    out = curation.cap_per_group(df, "source", "score", 5, "doc_id")
    got = sorted((r.group_rank, r.doc_id) for r in out.collect())
    # naive expected: score desc (max 96), ties by min doc_id
    expected = sorted(
        (i + 1, v) for i, v in enumerate(
            sorted([x for x in range(n) if x % 97 == 96])[:5]
        )
    )
    assert got == expected


def test_real_image_decode_with_pil(spark):
    """Real decode path (fake=False) — exercised only when PIL is
    importable; the sandbox default is the NotImplementedError stub,
    which test_sample_frames_and_resize_plumbing pins."""
    Image = multimodal._pil_image()
    if Image is None:
        pytest.skip("PIL not installed — stub path covered elsewhere")
    import io

    buf = io.BytesIO()
    Image.new("RGB", (8, 4), color=(255, 255, 255)).save(buf, format="PNG")
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))],
                               "id long, payload binary")
    row = multimodal.decode_image_features(df, fake=False).collect()[0]
    assert (row.width, row.height) == (8, 4)
    assert row.mean_luma == pytest.approx(255.0)


def test_fake_decode_raises_without_codecs(spark):
    df = spark.createDataFrame([(1, bytearray(b"xx"))], "id long, payload binary")
    if multimodal._pil_image() is not None:
        pytest.skip("PIL installed — real path covered above")
    with pytest.raises(Exception, match="(?i)codecs unavailable"):
        multimodal.decode_image_features(df, fake=False).collect()


def test_quality_classifier_score_semantics(spark, docs):
    out = text_ops.quality_classifier(docs, "doc_id", "text").cache()
    rows = out.collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
        assert r.keep == (r.quality_score >= 0.5)
    # all-symbol garbage must score below clean prose
    df = spark.createDataFrame(
        [(1, "the cat sat of the mat and a dog is in the house"),
         (2, "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( ))))")],
        "doc_id long, text string",
    )
    got = {r.id: r.quality_score
           for r in text_ops.quality_classifier(df, "doc_id", "text").collect()}
    assert got[1] > got[2]
    with pytest.raises(ValueError, match="unknown quality features"):
        text_ops.quality_classifier(df, "doc_id", "text",
                                    weights={"nope": 1.0}).collect()


def test_semantic_dedup_drops_planted_duplicates(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    orig = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    # planted copy of every vector at +100000 (cos == 1 with its source)
    aug = orig.unionByName(
        orig.select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    )
    out = similarity.semantic_dedup(
        aug, "vec_id", "embedding", k=8, iters=0, threshold=0.99
    ).cache()
    assert out.count() == aug.count()
    # an exact copy always shares its source's cell, so SemDeDup must
    # drop every planted +100000 copy and keep every original
    dropped = {r.id for r in out.filter("NOT keep").collect()}
    n = emb.count()
    planted = {r.vec_id + 100_000 for r in emb.select("vec_id").collect()}
    assert planted <= dropped
    kept = {r.id for r in out.filter("keep").collect()}
    assert {r.vec_id for r in emb.select("vec_id").collect()} <= kept
    assert len(dropped) + len(kept) == 2 * n


def test_leakage_safe_split_never_straddles_pairs(spark, docs):
    from anomaly_detector_faironchain_spark.operators import training

    # synthetic near-dup pairs: chain every 10th doc to its neighbor
    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").collect()]
    pair_rows = [(ids[i], ids[i + 1]) for i in range(0, len(ids) - 1, 10)]
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    out = training.leakage_safe_split(
        docs, "doc_id", pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).cache()
    assert out.count() == len(ids)
    by_id = {r.id: (r.component, r.split) for r in out.collect()}
    for a, b in pair_rows:
        assert by_id[a] == by_id[b], f"pair ({a},{b}) straddles splits"
    # singletons are their own component and hash like deterministic_split
    paired = {x for ab in pair_rows for x in ab}
    singles = [i for i in ids if i not in paired]
    assert singles
    for i in singles[:20]:
        assert by_id[i][0] == i
    # every split is non-empty at 80/10/10 over ~500 groups
    assert out.select("split").distinct().count() == 3


def test_bpe_token_count_known_values(spark):
    df = spark.createDataFrame(
        [(1, "don't stop"),          # don / 't / (space)stop
         (2, "abc123!?"),            # abc / 123 / !?
         (3, "hello   world"),       # hello / (space)world
         (4, "")],
        "doc_id long, text string",
    )
    got = {r.id: (r.n_bpe_tokens, r.n_ws_tokens)
           for r in text_ops.bpe_token_count(df, "doc_id", "text").collect()}
    assert got[1] == (3, 2)
    assert got[2] == (3, 1)
    assert got[3] == (2, 2)
    assert got[4][0] == 0
    # BPE-ish counts never undercount whitespace words on real prose
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bad = (text_ops.bpe_token_count(docs, "doc_id", "text")
           .filter("n_bpe_tokens < n_ws_tokens").count())
    assert bad == 0


def test_hard_negatives_excludes_self_and_positives(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    pos = emb.select(
        F.col("vec_id").alias("qid"), (F.col("vec_id") + 1).alias("pos_id")
    ).filter(F.col("qid").isin(qids))
    out = similarity.hard_negatives(emb, "vec_id", "embedding", pos, k=5)
    rows = out.collect()
    assert {r.qid for r in rows} == set(qids)
    for r in rows:
        assert r.nid != r.qid and r.nid != r.qid + 1
    # exactly k per query, descending cosine
    from collections import defaultdict
    per_q = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.qid, -r.cos, r.nid)):
        per_q[r.qid].append(r.cos)
    assert all(len(v) == 5 for v in per_q.values())
    # negatives are the hardest available: each must score >= the best
    # excluded-positive-free item outside the top-k (monotone list)
    assert all(v == sorted(v, reverse=True) for v in per_q.values())


def test_ngram_perplexity_separates_in_domain_from_out_of_domain(spark, docs):
    model = text_ops.char_ngram_model(
        docs.filter(F.col("lang") == "en"), "text", n=3, top_k=5000
    )
    out = text_ops.cross_entropy_score(docs, "doc_id", "text", model, n=3)
    scored = out.join(
        docs.select(F.col("doc_id").alias("id"), "lang"), "id"
    ).groupBy("lang").agg(F.avg("bits_per_ngram").alias("bits")).collect()
    bits = {r.lang: r.bits for r in scored}
    # the English model must score English text as most in-domain
    # (the synthetic corpus' other "languages" are mostly latin tokens
    # too, so only the ordering — not a wide margin — is guaranteed)
    assert bits["en"] == min(bits.values())
    # genuinely out-of-domain text (symbol soup: unseen trigrams →
    # floor) must sit far above the in-domain average
    soup = spark.createDataFrame(
        [(99, "@#$%^&*()_+{}|:<>?~`@#$%^&*()_+{}|:<>?~`")],
        "doc_id long, text string",
    )
    soup_bits = text_ops.cross_entropy_score(
        soup, "doc_id", "text", model
    ).first().bits_per_ngram
    assert soup_bits > bits["en"] + 5.0
    # short/empty docs carry no n-grams and are omitted, never crash
    tiny = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None), (4, "abcd")],
        "doc_id long, text string",
    )
    rows = text_ops.cross_entropy_score(tiny, "doc_id", "text", model).collect()
    assert {r.id for r in rows} == {4}
    assert rows[0].n_ngrams == 2


def test_normalize_text_known_values(spark):
    df = spark.createDataFrame(
        [(1, "“Hi” — it’s fine\t now…  "),
         (2, "already clean"),
         (3, None),
         (4, "ctrl\x07chars\x1fhere")],
        "doc_id long, text string",
    )
    got = {r.id: (r.norm_text, r.changed)
           for r in text_ops.normalize_text(df, "doc_id", "text").collect()}
    assert got[1] == ('"Hi" - it\'s fine now...', True)
    assert got[2] == ("already clean", False)
    assert got[3] == (None, False)
    assert got[4] == ("ctrlcharshere", True)
    # normalization makes cosmetic variants hash-identical
    pair = spark.createDataFrame(
        [(1, "a — b"), (2, "a  -  b")], "doc_id long, text string"
    )
    norm = text_ops.normalize_text(pair, "doc_id", "text")
    assert norm.select("norm_text").distinct().count() == 1


def test_ngram_lm_arrow_and_sql_methods_agree(spark, docs):
    """The Arrow scale path and the pure-SQL oracle formulation must
    produce the identical model (exact integer counts) and identical
    4-dp scores."""
    ref = docs.filter(F.col("lang") == "en")
    m_sql = text_ops.char_ngram_model(ref, "text", n=3, top_k=2000,
                                      method="sql")
    m_arrow = text_ops.char_ngram_model(ref, "text", n=3, top_k=2000,
                                        method="arrow")
    as_set = lambda df: {(r.ngram, r.cnt, r.logp) for r in df.collect()}
    assert as_set(m_sql) == as_set(m_arrow)

    s_sql = text_ops.cross_entropy_score(docs, "doc_id", "text", m_arrow,
                                         method="sql")
    s_arrow = text_ops.cross_entropy_score(docs, "doc_id", "text", m_arrow,
                                           method="arrow")
    rows = lambda df: {(r.id, r.n_ngrams, r.bits_per_ngram)
                       for r in df.collect()}
    assert rows(s_sql) == rows(s_arrow)


def test_ngram_lm_rejects_unknown_method(spark, docs):
    """A misspelt method must fail, not fall through to the O(len²) SQL
    oracle form."""
    model = text_ops.char_ngram_model(docs, "text", n=3, top_k=50)
    with pytest.raises(ValueError, match="arow"):
        text_ops.char_ngram_model(docs, "text", n=3, method="arow")
    with pytest.raises(ValueError, match="arrow_pandas"):
        text_ops.cross_entropy_score(docs, "doc_id", "text", model,
                                     method="arrow_pandas")


def test_token_stats_and_classifier_survive_empty_documents(spark):
    """Regression for the ANSI DIVIDE_BY_ZERO abort: an empty document
    (n_chars = 0) must score (0-ratios, quality 0) instead of killing
    the whole job; NULL text keeps null semantics. Empty docs are
    routine in crawl corpora."""
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "the cat sat")],
        "doc_id long, text string",
    )
    ts = {r.id: r for r in text_ops.token_stats(df, "doc_id", "text").collect()}
    assert (ts[1].n_chars, ts[1].alpha_ratio, ts[1].stop_ratio,
            ts[1].quality) == (0, 0.0, 0.0, 0.0)
    assert ts[2].alpha_ratio is None and ts[2].quality is None
    assert ts[3].quality > 0
    qc = {r.id: r for r in
          text_ops.quality_classifier(df, "doc_id", "text").collect()}
    assert qc[1].quality_score is not None and qc[1].keep is False
    assert qc[2].quality_score is None
    # the composed curation gate must also survive empty docs
    from anomaly_detector_faironchain_spark.operators import curation
    out = curation.curate_documents(
        df.filter("text IS NOT NULL"), "doc_id", "text", min_tokens=1,
        min_quality=0.0,
    )
    assert {r.id for r in out.collect()} == {1, 3}


def test_semantic_dedup_degenerate_corpora(spark):
    """Corpus smaller than k (every row becomes a centroid) and an
    empty corpus (empty result, stable schema) must not crash —
    kmeans_centroids previously indexed past its init rows."""
    emb = spark.createDataFrame(
        [(i, [float(i + d) for d in range(64)]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    out = similarity.semantic_dedup(emb, "vec_id", "embedding",
                                    k=16, iters=1, threshold=0.99)
    assert out.count() == 3
    empty = emb.filter("vec_id < 0")
    out = similarity.semantic_dedup(empty, "vec_id", "embedding", k=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "cell", "keep"]
