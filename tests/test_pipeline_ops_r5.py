"""Round-5 pipeline operators: corpus-internal exact substring dedup,
hybrid-retrieval rank fusion, BPE tokenizer training, embedding
outlier pruning."""

from pyspark.sql import functions as F


def test_substring_dedup_cross_doc_canonical_keeps_first(spark):
    """A duplicated ≥k-token run survives only at its minimal
    (doc_id, position) occurrence; every other copy is removed
    token-for-token. Unique text is untouched."""
    from goose_parser_spark.ops.dedup import substring_dedup_exact
    dup = "alpha beta gamma delta epsilon"
    df = spark.createDataFrame([
        (1, f"intro one {dup} outro one"),
        (2, f"{dup} something entirely different afterwards"),
        (3, "no duplicated runs in this document at all"),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r
           for r in substring_dedup_exact(df, k=5).collect()}
    # canonical occurrence: doc 1 (min doc_id) keeps the run
    assert out[1]["text"] == f"intro one {dup} outro one"
    assert out[1]["n_removed"] == 0
    assert out[2]["text"] == "something entirely different afterwards"
    assert out[2]["n_removed"] == 5
    assert out[3]["n_removed"] == 0


def test_substring_dedup_within_doc_and_full_dup(spark):
    """Within-doc repeats keep the first occurrence; a document that
    is entirely a copy of an earlier one survives with empty text;
    docs shorter than k are never touched."""
    from goose_parser_spark.ops.dedup import substring_dedup_exact
    run = "p q r s t"
    df = spark.createDataFrame([
        (1, f"{run} filler words here {run}"),
        (2, run),                      # full copy of doc 1's run
        (3, "tiny"),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r
           for r in substring_dedup_exact(df, k=5).collect()}
    assert out[1]["text"] == f"{run} filler words here"
    assert out[1]["n_removed"] == 5
    assert out[2]["text"] == "" and out[2]["n_removed"] == 5
    assert out[3]["text"] == "tiny" and out[3]["n_removed"] == 0


def test_rrf_fuse_hand_computed(spark):
    """Fused score = Σ round(1e6/(60+rank)); a doc on both lists beats
    a slightly-higher single-list doc; ties break by doc id."""
    from goose_parser_spark.ops.retrieval import rrf_fuse
    lex = spark.createDataFrame(
        [("q", 1, 10), ("q", 2, 20), ("q", 3, 30)],
        "query_id string, rank int, doc_id int")
    sem = spark.createDataFrame(
        [("q", 1, 20), ("q", 2, 40), ("q", 3, 30)],
        "query_id string, rank int, doc_id int")
    out = {r["doc_id"]: r for r in rrf_fuse([lex, sem], k=10).collect()}
    # doc 20: rank2 lex + rank1 sem = 16129 + 16393 = 32522
    assert out[20]["rrf_micro"] == round(1e6 / 62) + round(1e6 / 61)
    assert out[20]["rank"] == 1 and out[20]["n_lists"] == 2
    # doc 30: rank3 both = 15873*2 = 31746 > doc 10's single 16393
    assert out[30]["rank"] == 2
    assert out[10]["rank"] == 3 and out[10]["n_lists"] == 1
    assert out[40]["n_lists"] == 1


def test_rrf_fuse_validation(spark):
    import pytest
    from goose_parser_spark.ops.retrieval import rrf_fuse
    with pytest.raises(ValueError):
        rrf_fuse([])
    df = spark.createDataFrame([("q", 1, 1)],
                               "query_id string, rank int, doc_id int")
    with pytest.raises(ValueError):
        rrf_fuse([df], rrf_k=-1)


def test_cosine_topk_multi_matches_single(spark):
    """Batch top-k must equal the single-query operator run per
    query, with 1-based dense ranks."""
    from goose_parser_spark.ops.similarity import (
        cosine_topk, cosine_topk_multi)
    vecs = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)])
            for i in range(40)]
    emb = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    qs = emb.where(F.col("vec_id") % 13 == 0) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
    multi = cosine_topk_multi(emb, qs, k=5).collect()
    by_q = {}
    for r in multi:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 13, 26, 39}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        qvec = vecs[qid][1]
        single = cosine_topk(emb, qvec, k=5).collect()
        assert [(r["vec_id"], r["sim"]) for r in rows] == \
            [(s["vec_id"], s["sim"]) for s in single]


def test_vector_scorers_reject_non_integral_ids(spark):
    """The scorers carry ids as long: a string (or fractional) id is
    a ValueError naming the column, not ids cast to NULL. The exact
    pair path keeps string ids as they are."""
    import pytest
    from goose_parser_spark.ops.similarity import (
        cosine_topk_multi, embedding_cosine_pairs)
    vecs = [(f"v{i}", float(i), [1.0, float(i % 3), 0.5])
            for i in range(6)]
    emb = spark.createDataFrame(
        vecs, "vec_id string, score double, embedding array<double>")
    long_ids = emb.select(F.col("score").cast("long").alias("vec_id"),
                          "score", "embedding")
    with pytest.raises(ValueError, match="'vec_id'"):
        cosine_topk_multi(emb, long_ids.withColumnRenamed(
            "vec_id", "query_id"), k=2)
    with pytest.raises(ValueError, match="'query_id'"):
        cosine_topk_multi(long_ids, emb.withColumnRenamed(
            "vec_id", "query_id"), k=2)
    with pytest.raises(ValueError, match="'score'"):
        cosine_topk_multi(long_ids, long_ids, k=2, query_id_col="score")
    with pytest.raises(ValueError, match="'vec_id'"):
        embedding_cosine_pairs(emb, lsh_prefilter=True, dims=3)
    exact = embedding_cosine_pairs(emb, threshold=0.99,
                                   lsh_prefilter=False).collect()
    assert exact and all(r["id_a"].startswith("v") for r in exact)


def test_policy_filter_reasons_and_precedence(spark):
    """Domain block wins over badword; badwords match word-bounded
    case-insensitively ('Merge' yes, 'submerged' no); clean docs keep
    with NULL reason; empty badword list rejected."""
    import pytest
    from goose_parser_spark.ops.policy import badwords_pattern, policy_filter
    rows = [
        (1, "let us Merge the branches", "https://ok.test/a"),
        (2, "the submerged city", "https://ok.test/b"),
        (3, "totally fine text", "https://evil.test/c"),
        (4, "merge this too", "https://evil.test/d"),
        (5, "nothing wrong here", "https://ok.test/e"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "url"])
    blocked = spark.createDataFrame([("evil.test",)], "host string")
    out = {r["doc_id"]: r for r in policy_filter(
        df, badwords=["merge"], blocked_hosts=blocked).collect()}
    assert out[1]["reason"] == "badword" and not out[1]["keep"]
    assert out[2]["keep"] and out[2]["reason"] is None
    assert out[3]["reason"] == "blocked_domain"
    assert out[4]["reason"] == "blocked_domain"      # precedence
    assert out[5]["keep"]
    with pytest.raises(ValueError):
        badwords_pattern([])


def test_topic_clusters_separates_planted_topics(spark):
    """Two well-separated embedding clumps with distinct vocabularies:
    each cluster's profile surfaces its own topic terms and the doc
    counts add up."""
    from goose_parser_spark.ops.similarity import topic_clusters
    rows_e, rows_d = [], []
    for i in range(20):
        hot = 1.0 if i % 2 == 0 else -1.0
        rows_e.append((i, [hot, -hot, 0.1 * (i % 3)]))
        rows_d.append((i, "sports game score team win"
                       if i % 2 == 0 else "python spark code data job"))
    emb = spark.createDataFrame(rows_e,
                                "vec_id int, embedding array<double>")
    docs = spark.createDataFrame(rows_d, "doc_id int, text string")
    out = topic_clusters(emb, docs, n_clusters=2, iters=3,
                         top_terms=3).collect()
    assert sum(r["n_docs"] for r in out) == 20
    profiles = {r["cluster"]: r["top_terms"] for r in out}
    joined = " ".join(profiles.values())
    assert "sports" in joined or "team" in joined or "game" in joined
    assert "python" in joined or "spark" in joined or "code" in joined
    # the two topics never share a profile
    for p in profiles.values():
        assert not ({"sports", "game"} & set(p.split(" | "))
                    and {"python", "spark"} & set(p.split(" | ")))


def test_bigram_logprob_hand_computed(spark):
    """Hand-check the interpolated model on a 2-doc corpus: fluent
    word order scores strictly higher than the same bag shuffled."""
    import math
    import pytest
    from goose_parser_spark.ops.textstats import bigram_logprob
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b b a a"), (3, "")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    # corpus: tokens n=8, vocab v=2; c(a)=4, c(b)=4
    # pairs: doc1 (a,b)(b,a)(a,b); doc2 (b,b)(b,a)(a,a)
    # bc: (a,b)=2 (b,a)=2 (b,b)=1 (a,a)=1; hc: a=3, b=3
    p_uni = (4 + 1.0) / (8 + 2)          # 0.5 for both tokens
    lp = lambda p: round(math.log(p) * 1e6)  # noqa: E731
    d1 = lp(p_uni) + 2 * lp(0.8 * 2 / 3 + 0.2 * p_uni) \
        + lp(0.8 * 2 / 3 + 0.2 * p_uni)
    # doc2 pairs: (b,b) bc=1, (b,a) bc=2 (shared with doc1), (a,a) bc=1
    d2 = lp(p_uni) + 2 * lp(0.8 * 1 / 3 + 0.2 * p_uni) \
        + lp(0.8 * 2 / 3 + 0.2 * p_uni)
    assert out[1]["logprob_micro"] == d1
    assert out[1]["n_tokens"] == 4
    assert out[2]["logprob_micro"] == d2
    assert out[1]["logprob_micro"] > out[2]["logprob_micro"]
    assert 3 not in out                  # empty doc absent
    with pytest.raises(ValueError):
        bigram_logprob(df, lambda_milli=1001)


def test_fix_mojibake_repairs_and_guards(spark):
    """Classic double-encoding is exactly inverted; clean text (ASCII,
    real accents, emoji, >U+00FF chars) passes through untouched; text
    that LOOKS like mojibake but isn't valid UTF-8 bytes is left
    alone (no-FFFD guard)."""
    from goose_parser_spark.ops.textstats import mojibake_stats
    good = "café — “naïve” déjà… 🙂"
    moji = good.encode("utf-8").decode("iso-8859-1")
    rows = [
        (1, moji),
        (2, "plain ascii text"),
        (3, good),               # already correct: contains >U+00FF
        (4, "Ã"),                # tell-tale but lone lead byte: 0xC3
                                 # alone is invalid UTF-8 -> unchanged
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in mojibake_stats(df).collect()}
    assert out[1]["text"] == good and out[1]["was_mojibake"] is True
    assert out[2]["text"] == "plain ascii text"
    assert out[2]["was_mojibake"] is False
    assert out[3]["text"] == good and out[3]["was_mojibake"] is False
    assert out[4]["text"] == "Ã" and out[4]["was_mojibake"] is False


def test_embedding_outliers_flags_far_points(spark):
    """A point far from its group's centroid is flagged; tight cluster
    members are not; groups are independent; pct validated."""
    import pytest
    from goose_parser_spark.ops.similarity import embedding_outliers
    rows = [(i, "a", [1.0, 0.0 + i * 1e-4]) for i in range(9)]
    rows.append((9, "a", [-1.0, 0.5]))            # opposite direction
    rows += [(10 + i, "b", [0.0, 1.0]) for i in range(5)]
    df = spark.createDataFrame(
        rows, "vec_id int, label string, embedding array<double>")
    out = {r["vec_id"]: r for r in embedding_outliers(
        df, group_col="label", pct=0.8).collect()}
    assert out[9]["is_outlier"] is True
    assert sum(1 for r in out.values()
               if r["label"] == "a" and r["is_outlier"]) <= 2
    # identical vectors in group b: dist 0 == cutoff 0 -> none flagged
    assert all(not out[10 + i]["is_outlier"] for i in range(5))
    with pytest.raises(ValueError):
        embedding_outliers(df, pct=1.5)


def test_substring_dedup_long_run_fully_removed(spark):
    """A duplicated run LONGER than k is removed in full from the
    non-canonical copy (every token is covered by some duplicated
    k-gram), not just the first k tokens."""
    from goose_parser_spark.ops.dedup import substring_dedup_exact
    run = "one two three four five six seven eight"     # 8 tokens
    df = spark.createDataFrame([
        (1, f"{run} tail a"),
        (2, f"head b {run}"),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r
           for r in substring_dedup_exact(df, k=4).collect()}
    assert out[1]["n_removed"] == 0
    assert out[2]["text"] == "head b"
    assert out[2]["n_removed"] == 8


def test_split_sentences_abbreviations(spark):
    """VERDICT r04 #7: periods after the bounded abbreviation table
    and inside e.g./i.e. do not open sentences; the sentinel is
    restored so output text keeps the original periods."""
    from goose_parser_spark.ops.textstats import split_sentences
    df = spark.createDataFrame(
        [(1, "Dr. Smith met Prof. Jones. They argued!"),
         (2, "See e.g. Fig. 3 and i.e. No. 7 for details. Done."),
         (3, "Costs rose vs. last year etc. and more. End."),
         (4, "Endr. is not an abbreviation. Next one.")],
        ["doc_id", "text"])
    out = {}
    for r in split_sentences(df).collect():
        out.setdefault(r["doc_id"], []).append(r["sentence"])
    assert out[1] == ["Dr. Smith met Prof. Jones.", "They argued!"]
    assert out[2] == ["See e.g. Fig. 3 and i.e. No. 7 for details.",
                      "Done."]
    assert out[3] == ["Costs rose vs. last year etc. and more.", "End."]
    # \b guard: "Endr." does NOT match the Dr alternative mid-word
    assert out[4] == ["Endr.", "is not an abbreviation.", "Next one."]


def test_phash_dct_matches_reference_and_perceptual_props(spark):
    """VERDICT r04 #6: phash_dct replays the classic pHash recipe
    (8x8 DCT, AC-median threshold) in fixed-point Catalyst integer
    math. Checked bit-for-bit against an independent pure-Python
    implementation of the same recipe, plus the perceptual contract:
    zero jitter -> identical hash, small pixel jitter -> few bits
    flip, unrelated images -> ~half the bits differ."""
    import hashlib
    from pyspark.sql import functions as F
    from goose_parser_spark.ops.multimodal import (
        DCT_C, PHASH_AC_ORDER, phash_dct)

    def ref_phash(payload: bytes, jitter: int = 0) -> int:
        h = hashlib.md5(payload).hexdigest()
        digs = [hashlib.md5((h + f":{j}").encode()).hexdigest()
                for j in range(4)]
        p = [int(digs[k // 16][(k % 16) * 2:(k % 16) * 2 + 2], 16)
             for k in range(64)]
        p[0] = max(0, min(255, p[0] + jitter))
        G = [[sum(DCT_C[u][x] * p[8 * x + y] for x in range(8))
              for y in range(8)] for u in range(8)]
        ac = [sum(DCT_C[v][y] * G[u][y] for y in range(8))
              for (u, v) in PHASH_AC_ORDER]
        med = sorted(ac)[29]
        return sum(1 << k for k, a in enumerate(ac) if a > med)

    rows = [(i, f"img-{i // 4}".encode(), (i % 4) * 74)
            for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, j long")
    out = {r["doc_id"]: r["phash"]
           for r in phash_dct(df, pixel_jitter=F.col("j")).collect()}
    for i in range(24):
        assert out[i] == ref_phash(f"img-{i // 4}".encode(), (i % 4) * 74)
    # no jitter -> byte-identical payload -> identical hash
    out0 = {r["doc_id"]: r["phash"] for r in phash_dct(
        df.select("doc_id", "payload")).collect()}
    assert out0[0] == out0[1] == out0[2] == out0[3]
    # small pixel jitter flips few bits; unrelated images ~half
    near = bin(out[0] ^ out[3]).count("1")       # jitter 0 vs 222
    far = bin(out[0] ^ out[4]).count("1")        # img-0 vs img-1
    assert near <= 10 < far
    # a NULL payload makes every pixel NULL: the reflect() barrier
    # passes NULL through instead of failing the job, every AC sum is
    # NULL, no bit is set and the hash is 0. A NULL jitter drops out of
    # greatest(), so pixel 0 clamps to 0.
    nulls = spark.createDataFrame(
        [(1, b"abc", 0), (2, None, 0), (3, b"abc", None)],
        "doc_id long, payload binary, j long")
    got = {r["doc_id"]: r["phash"]
           for r in phash_dct(nulls, pixel_jitter=F.col("j")).collect()}
    assert got == {1: ref_phash(b"abc"), 2: 0, 3: ref_phash(b"abc", -255)}
    got = {r["doc_id"]: r["phash"] for r in phash_dct(
        nulls.select("doc_id", "payload")).collect()}
    assert got == {1: ref_phash(b"abc"), 2: 0, 3: ref_phash(b"abc")}


def test_snapshot_diff_four_statuses(spark):
    """Each url classifies into exactly one of added/gone/changed/
    unchanged; digests are NULL on the absent side."""
    from goose_parser_spark.ops.crawl import snapshot_diff
    old = spark.createDataFrame([
        ("u/same", "body one"),
        ("u/edit", "body two"),
        ("u/dead", "body three"),
    ], ["url", "text"])
    new = spark.createDataFrame([
        ("u/same", "body one"),
        ("u/edit", "body two EDITED"),
        ("u/born", "body four"),
    ], ["url", "text"])
    out = {r["url"]: r for r in snapshot_diff(old, new).collect()}
    assert len(out) == 4
    assert out["u/same"]["status"] == "unchanged"
    assert out["u/edit"]["status"] == "changed"
    assert out["u/dead"]["status"] == "gone"
    assert out["u/born"]["status"] == "added"
    assert out["u/dead"]["new_digest"] is None
    assert out["u/born"]["old_digest"] is None
    assert (out["u/same"]["old_digest"]
            == out["u/same"]["new_digest"])
    assert (out["u/edit"]["old_digest"]
            != out["u/edit"]["new_digest"])


def test_readability_hand_computed(spark):
    """FRE/FKGL milli-units match hand arithmetic on exact counts;
    a doc with no terminal punctuation counts as one sentence;
    empty docs are dropped."""
    import math
    from goose_parser_spark.ops.textstats import readability_scores
    df = spark.createDataFrame([
        # 4 words, 2 sentences (runs of [.!?]), syllables:
        # the=1(e) cat=1(a) sat=1(a) down=1(ow) -> 4
        (1, "The cat sat. Down!"),
        # no punctuation: 1 sentence; banana=3(a,a,a) apple=1(a,e? ->
        # 'apple' lower: a..e -> groups 'a','e' = 2)
        (2, "banana apple"),
        (3, ""),
    ], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in readability_scores(df).collect()}
    assert 3 not in out  # zero-word doc dropped
    r1 = out[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (4, 2, 4)
    fre = 206.835 - 1.015 * (4 / 2) - 84.6 * (4 / 4)
    fk = 0.39 * (4 / 2) + 11.8 * (4 / 4) - 15.59
    assert r1["flesch_milli"] == math.floor(fre * 1000)
    assert r1["fk_milli"] == math.floor(fk * 1000)
    r2 = out[2]
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllables"]) == (2, 1, 5)


def test_select_token_budget_bucket_and_boundary(spark):
    """Whole better-quality buckets are kept, the boundary bucket fills
    greedily in (md5(id), id) order with an inclusive-prefix rule, and
    worse buckets are dropped entirely; NULL rows are ignored."""
    import hashlib
    from goose_parser_spark.ops.sampling import select_token_budget
    rows = [
        # quality 9: 40 tokens total -> fits whole (budget 100)
        (1, 9, 25), (2, 9, 15),
        # quality 5: 80 tokens total -> boundary (40 + 80 > 100)
        (3, 5, 30), (4, 5, 30), (5, 5, 30),
        # quality 1: dropped whole
        (6, 1, 5),
        (7, None, 10), (8, 2, None),  # NULLs ignored
    ]
    df = spark.createDataFrame(
        rows, "doc_id int, quality int, n_tokens int")
    out = select_token_budget(df, budget=100).collect()
    kept = {r["doc_id"] for r in out}
    assert {1, 2} <= kept and 6 not in kept
    assert 7 not in kept and 8 not in kept
    # boundary: remaining budget = 60 -> exactly two of docs 3/4/5 in
    # md5 order
    order = sorted([3, 4, 5],
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    assert kept - {1, 2} == set(order[:2])
    # total tokens within budget
    total = sum(r["n_tokens"] for r in out)
    assert total <= 100


def test_select_token_budget_edge_budgets(spark):
    """A budget smaller than the best doc keeps nothing beyond what
    fits; a budget covering everything keeps all non-NULL rows."""
    from goose_parser_spark.ops.sampling import select_token_budget
    df = spark.createDataFrame(
        [(1, 3, 50), (2, 2, 10)],
        "doc_id int, quality int, n_tokens int")
    assert select_token_budget(df, budget=40).count() == 0
    assert select_token_budget(df, budget=60).count() == 2
    got = select_token_budget(df, budget=55).collect()
    assert [r["doc_id"] for r in got] == [1]


def test_select_token_budget_matches_bruteforce_reference(spark):
    """15 seeded-random corpora: the bucketed plan's kept set equals a
    plain sort-and-prefix reference (quality desc, md5(id), id;
    inclusive-prefix rule) at assorted budgets incl. 0 and all."""
    import hashlib
    import random
    from goose_parser_spark.ops.sampling import select_token_budget

    rng = random.Random(1234)
    for case in range(15):
        n = rng.randint(1, 40)
        rows = [(i, rng.randint(0, 5), rng.randint(1, 20))
                for i in range(n)]
        total = sum(t for _, _, t in rows)
        budget = rng.choice([0, 1, total // 3, total // 2, total])
        order = sorted(rows, key=lambda r: (
            -r[1], hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
        expect, cum = set(), 0
        for i, q, t in order:
            if cum + t > budget:
                break
            cum += t
            expect.add(i)
        df = spark.createDataFrame(
            rows, "doc_id int, quality int, n_tokens int")
        got = {r["doc_id"]
               for r in select_token_budget(df, budget=budget).collect()}
        assert got == expect, (case, budget, sorted(got), sorted(expect))
