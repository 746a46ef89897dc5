"""Unit tests for the training-data-pipeline operators against
hand-computed micro-fixtures (beyond the DuckDB contract checks)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from veealign_spark.operators import ann, dedup, sessions, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b c d e", "en", "s", 9),
        (2, "a b c d e", "en", "s", 9),          # exact dup of 1
        (3, "a b c d x", "en", "s", 9),          # near dup of 1
        (4, "z y w v u", "en", "s", 9),          # unrelated
        (5, "a b", "en", "s", 3),                # too short for 3-grams
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_duplicates(spark, docs):
    got = {r["keeper_id"]: r["group_size"] for r in dedup.exact_duplicates(docs).collect()}
    assert got[1] == 2          # docs 1+2 collapse
    assert got[3] == 1 and got[4] == 1 and got[5] == 1


def test_shingles_short_text(spark, docs):
    sh = dedup.doc_shingles(docs, 3).filter(F.col("doc_id") == 5)
    assert sh.count() == 0      # len < n -> empty, not descending-sequence garbage


def test_jaccard_pairs(spark, docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, 3, 0.1, max_shingle_freq=0).collect()
    }
    assert got[(1, 2)] == 1.0
    # docs 1 and 3 share shingle {a b c} and {b c d}? 1: [abc,bcd,cde]; 3: [abc,bcd,cdx]
    # inter=2, union=4 -> 0.5
    assert got[(1, 3)] == 0.5
    assert (1, 4) not in got


def test_minhash_identical_docs_agree_all_bands(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_bands_agree"]
        for r in dedup.minhash_lsh_pairs(docs, n_bands=8).collect()
    }
    assert pairs[(1, 2)] == 8   # identical shingle sets -> all bands agree
    assert pairs.get((1, 4)) is None


def test_simhash_close_for_neardups(spark, docs):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash_fingerprints(docs).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert fp[1] == fp[2]
    assert hamming(fp[1], fp[3]) <= hamming(fp[1], fp[4])


def test_ann_topk_matches_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((20, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]], 0) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    got = ann.cosine_topk(df.filter(F.col("vec_id") < 3), df, k=3)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    v = vecs.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    for q in range(3):
        order = [
            int(i) for i in np.lexsort((np.arange(20), -np.round(sims[q], 6)))
            if i != q
        ][:3]
        want = [(rk + 1, n) for rk, n in enumerate(order)]
        assert sorted(by_q[q]) == want, (q, by_q[q], want)


def test_lsh_buckets_group_identical(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0, 1.0], 0), (2, [1.0, 0.0, 2.0, 1.0], 0), (3, [-1.0, 5.0, -2.0, 0.5], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    b = {r["id"]: r["bucket"] for r in ann.lsh_hyperplane_buckets(df, dim=4).collect()}
    assert b[1] == b[2]


def test_quality_and_tokens(spark, docs):
    ts = {r["doc_id"]: r for r in textstats.token_stats(docs).collect()}
    assert ts[1]["n_tokens"] == 5 and ts[1]["n_distinct_tokens"] == 5
    q = {r["doc_id"]: r for r in textstats.quality_scores(docs).collect()}
    assert q[1]["stopword_ratio"] == pytest.approx(1 / 5)  # 'a'
    assert q[1]["type_token_ratio"] == 1.0


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@corp.io thanks"),
            (2, "ssn 123-45-6789 from host 10.0.0.1 call +1 (555) 123-4567"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in textstats.redact_pii(df).collect()}
    assert out[1]["redacted"] == "mail me at <EMAIL> thanks"
    assert out[1]["n_redactions"] == 1
    # SSN/IPV4 tag before the greedy PHONE class reaches them
    assert out[2]["redacted"] == "ssn <SSN> from host <IPV4> call <PHONE>"
    assert out[2]["n_redactions"] == 3
    assert out[3]["redacted"] == out[3]["text"]
    assert out[3]["n_redactions"] == 0


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [(1, "a a A a b"), (2, "w x y z"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in textstats.repetition_stats(df).collect()}
    assert out[1]["top_token_frac"] == pytest.approx(0.8)  # case-folded
    assert out[1]["dup_2gram_frac"] == pytest.approx(0.5)
    assert out[2]["top_token_frac"] == pytest.approx(0.25)
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[3]["top_token_frac"] == 1.0  # single token, no 2-grams
    assert out[3]["dup_2gram_frac"] == 0.0
    # scale guard: dup_2gram_frac must be computed BELOW the explode
    # (once per doc, not per token) — the Generate node then lists it
    # as required child output instead of recomputing it above
    plan = textstats.repetition_stats(df)._jdf.queryExecution().executedPlan().toString()
    gen_lines = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen_lines and all("dup_2gram_frac" in ln for ln in gen_lines)


def test_stratified_sample(spark):
    import hashlib

    from veealign_spark.operators import sampling

    rows = [(i, ["en", "zh", "es", "xx"][i % 4]) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.stratified_sample(
        df, "lang", {"en": 0.2, "zh": 0.5, "es": 1.0},
        key_cols=["doc_id"], seed=37, default_fraction=0.0,
    )
    got = {(r["doc_id"], r["lang"]) for r in out.collect()}

    def bucket(i: int) -> int:
        return int(hashlib.md5(f"37|{i}".encode()).hexdigest()[:4], 16) % 100

    want = {
        (i, lang) for i, lang in rows
        if bucket(i) < {"en": 20, "zh": 50, "es": 100}.get(lang, 0)
    }
    assert got == want  # exact deterministic membership
    per = {lang: sum(1 for _, x in got if x == lang) for lang in ("en", "zh", "es", "xx")}
    assert per["es"] == 500 and per["xx"] == 0
    assert abs(per["en"] / 500 - 0.2) < 0.05
    assert abs(per["zh"] / 500 - 0.5) < 0.06


def test_langid_votes(spark):
    df = spark.createDataFrame(
        [(1, "the a value value x", "x", "s", 1), (2, "spark stream batch qq", "x", "s", 1), (3, "qq ww", "x", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in textstats.language_id(df).collect()}
    assert got == {1: "en", 2: "dataeng", 3: "unk"}


def test_sessionize_gap(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 10, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=10), 10, "view", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=90), 10, "view", 1.0, "{}"),  # new session
        (4, t0, 20, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {r["user_id"]: r for r in sessions.session_stats(df, 30).collect()}
    assert got[10]["n_sessions"] == 2 and got[10]["max_session_events"] == 2
    assert got[20]["n_sessions"] == 1


def test_tuned_threshold_beats_pinned(spark):
    """A9 wiring: on a fixture seed where the pinned 0.90 threshold
    admits false positives, gold-tuned acceptance reaches F1 >= the
    pinned F1."""
    from veealign_spark import datagen, schemas
    from veealign_spark.operators import metrics as m
    from veealign_spark.plans.pipeline import PipelineConfig, run_pipeline

    pair = datagen.make_ontology_pair(seed=123)
    tr, _ = datagen.make_transcripts(pair["triples"], seed=123)
    sdf = spark.createDataFrame(tr, schema=schemas.TRANSCRIPTS)
    gold = spark.createDataFrame(pair["gold"])
    pinned = run_pipeline(spark, sdf, PipelineConfig())
    tuned = run_pipeline(spark, sdf, PipelineConfig(), gold=gold)
    f1_pinned = m.pr_metrics(pinned["accepted"], gold).collect()[0]["f1"]
    f1_tuned = m.pr_metrics(tuned["accepted"], gold).collect()[0]["f1"]
    assert f1_tuned >= f1_pinned
    assert f1_tuned >= 0.97


def test_asof_join(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 10, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=5), 10, "purchase", 1.0, "{}"),   # matches 1
        (3, t0 + dt.timedelta(minutes=50), 10, "click", 1.0, "{}"),
        (4, t0 + dt.timedelta(minutes=50), 10, "purchase", 1.0, "{}"),  # same-ts click matches (>=)
        (5, t0, 20, "purchase", 1.0, "{}"),                             # no prior click -> null
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = {
        r["event_id"]: r["matched_event_id"]
        for r in sessions.asof_join_last_event(df, "purchase", "click").collect()
    }
    assert got == {2: 1, 4: 3, 5: None}
    # tolerance: the 5-minute-old click survives a 10-min window,
    # nothing else changes except out-of-window matches become null
    tol = {
        r["event_id"]: r["matched_event_id"]
        for r in sessions.asof_join_last_event(df, "purchase", "click", tolerance_minutes=10).collect()
    }
    assert tol == {2: 1, 4: 3, 5: None}


def test_minhash_hot_bucket_star_reduction(spark):
    """Mass-duplicate corpus: k identical docs share every band bucket.
    Uncapped emits k(k-1)/2 pairs (the quadratic straggler); the
    max_bucket_size guard star-reduces to k-1 hub pairs while
    connected-components cluster recovery is unchanged."""
    from veealign_spark.operators import canonicalize, dedup

    k = 60
    rows = [(f"d{i:03d}", "the same exact duplicated text body here") for i in range(k)]
    rows += [("x1", "an unrelated document about graphs and spark"),
             ("x2", "an unrelated document about graphs and spark"),
             ("y1", "completely different content with no overlap at all")]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    uncapped = dedup.minhash_lsh_pairs(docs, n_bands=4)
    capped = dedup.minhash_lsh_pairs(docs, n_bands=4, max_bucket_size=8)
    n_un, n_cap = uncapped.count(), capped.count()
    # quadratic vs linear in the hot cluster
    assert n_un >= k * (k - 1) // 2
    assert n_cap <= (k - 1) + 5
    # every capped pair agrees on all bands (identical docs)
    hub_pairs = capped.filter(F.col("doc_a") == "d000")
    assert hub_pairs.count() == k - 1

    def clusters(pairs):
        cc = canonicalize.connected_components(
            pairs.select(F.col("doc_a").alias("ent1"), F.col("doc_b").alias("ent2"))
        )
        return {
            tuple(sorted(r["entity"] for r in grp))
            for _, grp in __import__("itertools").groupby(
                sorted(cc.collect(), key=lambda r: r["canon_id"]),
                key=lambda r: r["canon_id"],
            )
        }

    assert clusters(capped) == clusters(uncapped)


def test_distributed_cc_pointer_jumping_long_chain(spark):
    """A 300-node chain has diameter 299: plain min-label propagation
    needs ~300 rounds; pointer jumping converges in O(log n). Also:
    exhausting max_iter raises instead of silently splitting."""
    from veealign_spark.operators.canonicalize import _distributed_cc

    n = 300
    edges = spark.createDataFrame(
        [(f"n{i:04d}", f"n{i + 1:04d}") for i in range(n - 1)],
        "ent1 string, ent2 string",
    )
    out = _distributed_cc(edges, max_iter=12)
    rows = out.collect()
    assert len(rows) == n
    assert {r["canon_id"] for r in rows} == {"n0000"}

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="no fixpoint"):
        _distributed_cc(edges, max_iter=2)


def test_lsh_multiprobe_recall_vs_cost(spark):
    """Recall/cost contract for the multi-probe LSH ANN: on a clustered
    corpus (where near neighbours exist — the regime ANN guarantees
    apply to), recall@5 >= 0.9 vs the exact brute-force oracle at
    <= 20% of the brute-force candidate-pair count."""
    import numpy as np

    from veealign_spark.operators import ann

    rng = np.random.default_rng(5)
    dim, n_clusters, per = 32, 25, 20
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per):
            v = centers[ci] + 0.10 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.cosine_topk(emb, emb, k=5).collect()
    }
    cand = ann.lsh_candidates_multiprobe(emb, dim, n_planes=10, n_tables=8)
    n_cand = cand.count()
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.lsh_topk_multiprobe(emb, dim, k=5, n_planes=10, n_tables=8).collect()
    }
    n = vid
    brute = n * (n - 1)
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall
    assert n_cand <= 0.2 * brute, (n_cand, brute)


def test_ivf_topk_recall_vs_cost(spark):
    """IVF (k-means cells + n_probe) recall/cost contract on the same
    clustered corpus as the multiprobe test: recall@5 >= 0.9 at a
    fraction of brute-force cost (cells adapt to the distribution)."""
    import numpy as np

    from veealign_spark.operators import ann

    rng = np.random.default_rng(5)
    dim, n_clusters, per = 32, 25, 20
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per):
            v = centers[ci] + 0.10 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.cosine_topk(emb, emb, k=5).collect()
    }
    corpus_cells, probe_cells = ann.ivf_cells(emb, n_cells=20, n_probe=2)
    n_cand = probe_cells.join(
        corpus_cells.select(F.col("id").alias("nid"), "cell"), "cell"
    ).count()
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ann.ivf_topk(emb, k=5, n_cells=20, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    brute = vid * (vid - 1)
    assert recall >= 0.9, recall
    assert n_cand <= 0.25 * brute, (n_cand, brute)


def test_downsample_kept_rate_is_uniform(spark):
    """The md5 bucket parses four hex digits (65536 residues), so the
    kept rate tracks the requested fraction closely — the two-char
    ascii bucket it replaced reached only 88 of 100 residues and
    skewed 0.10 to ~0.090 / 0.25 to ~0.266 (round-2 advice)."""
    from veealign_spark.operators import sampling

    n = 20_000
    df = spark.range(n).select(F.col("id").cast("string").alias("k"))
    for frac in (0.10, 0.25, 0.75):
        kept = sampling.downsample(df, frac, ["k"]).count() / n
        assert abs(kept - frac) < 0.02, (frac, kept)


def test_lsh_hot_bucket_cap_bounds_pairs(spark):
    """Degenerate corpus (identical vectors): every id lands in ONE
    bucket per table, so an unguarded bucket join emits ~n^2 pairs on
    one task. With max_bucket_size the candidate count is bounded by
    n * cap * n_tables, and every query still receives a full top-k
    from the capped (equally-similar) member set."""
    from veealign_spark.operators import ann

    n, cap, k = 400, 10, 3
    df = spark.createDataFrame(
        [(i, [1.0, 0.5, 0.25, 0.125]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    cand = ann.lsh_candidates_multiprobe(
        df, dim=4, n_planes=6, n_tables=2, max_bucket_size=cap
    )
    assert cand.count() <= n * cap * 2
    out = ann.lsh_topk(df, dim=4, k=k, max_bucket_size=cap)
    got = out.groupBy("query_id").count().collect()
    assert len(got) == n and all(r["count"] == k for r in got)


def test_spellcheck_corrections_and_text(spark):
    """S5 re-expression: unknown tokens map to their edit-distance-1
    dictionary word (highest frequency wins), short tokens are never
    touched, and in-text correction preserves token order."""
    from veealign_spark.operators import spellcheck

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)]
        + [(99, "the quik brown foxx jumps")],
        "doc_id long, text string",
    )
    dic = spellcheck.corpus_dictionary(docs, min_freq=5)
    toks = spark.createDataFrame(
        [("quik",), ("foxx",), ("zzzzz",), ("teh",)], "token string"
    )
    corr = {r["token"]: r["corrected"]
            for r in spellcheck.spellcheck_corrections(toks, dic).collect()}
    assert corr["quik"] == "quick" and corr["foxx"] == "fox"
    assert "zzzzz" not in corr          # no distance-1 candidate
    assert "teh" not in corr            # below min_len — never corrected
    out = {r["id"]: r["corrected_text"]
           for r in spellcheck.spellcheck_text(docs, dic).collect()}
    assert out[99] == "the quick brown fox jumps"


def test_spellcheck_prefers_frequent_candidate(spark):
    from veealign_spark.operators import spellcheck

    dic = spark.createDataFrame(
        [("mode", 100), ("made", 3), ("node", 100)], "word string, freq long"
    )
    toks = spark.createDataFrame([("made_",)], "token string").select(
        F.regexp_replace("token", "_", "").alias("token")
    )
    # "made" IS in the dictionary -> untouched (absent from corrections)
    assert spellcheck.spellcheck_corrections(toks, dic).count() == 0
    toks2 = spark.createDataFrame([("mude",)], "token string")
    got = spellcheck.spellcheck_corrections(toks2, dic).collect()
    # distance-1 candidates: mode(100) and made(3) -> mode wins
    assert len(got) == 1 and got[0]["corrected"] == "mode"


def test_portable_ivf_deterministic_and_complete(spark):
    """The portable IVF quantizer is seed-deterministic (same centroids
    bit-for-bit) and every query receives a full top-k."""
    import numpy as np

    from veealign_spark.operators import ann

    rng = np.random.default_rng(2)
    X = rng.standard_normal((300, 8))
    c1 = ann.kmeans_portable(X, 8, seed=11)
    c2 = ann.kmeans_portable(X, 8, seed=11)
    np.testing.assert_array_equal(c1, c2)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    out = ann.ivf_topk_portable(df, c1, k=3, n_probe=2)
    counts = {r["query_id"]: r["count"]
              for r in out.groupBy("query_id").count().collect()}
    assert len(counts) == 120 and all(v == 3 for v in counts.values())


def test_cross_corpus_contamination(spark):
    """Decontamination flags exactly the training docs sharing >= k
    distinct n-grams with the benchmark corpus."""
    from veealign_spark.operators import dedup

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox went home"),          # shares 2 shingles
            (2, "a completely different sentence here ok"),  # shares 0
            (3, "quick brown fox jumps over something"),     # shares 3
            (4, "the quick red fox jumps over"),             # shares 0 (3-grams differ)
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_shared"]
           for r in dedup.cross_corpus_contamination(train, bench, n=3, min_shared=2).collect()}
    assert got == {1: 2, 3: 3}, got


def test_distributed_cc_giant_component_stress(spark):
    """VERDICT r5 #6: a >500k-edge SINGLE component (long chain + Zipf
    hubs) forces the distributed pointer-jumping path through the
    public connected_components API; convergence must stay within
    log2(diameter)+c rounds and the labeling must equal the driver
    union-find exactly."""
    import math

    from pyspark.sql import functions as F

    from veealign_spark.operators import canonicalize

    chain_n = 4096
    leaves = 500_000
    chain = spark.range(chain_n - 1).select(
        F.format_string("n%07d", F.col("id")).alias("ent1"),
        F.format_string("n%07d", F.col("id") + 1).alias("ent2"),
    )
    # Zipf-ish hubs: leaf j hangs off hub floor(log2(j+2)) % 12 — the
    # top octave puts ~half the leaves on one hub (the skew hazard)
    hub = F.pmod(F.floor(F.log2(F.col("id") + 2)).cast("int"), F.lit(12))
    leaf_edges = spark.range(leaves).select(
        F.format_string("l%07d", F.col("id")).alias("ent1"),
        F.format_string("h%02d", hub).alias("ent2"),
    )
    hub_anchor = spark.range(12).select(
        F.format_string("h%02d", F.col("id")).alias("ent1"),
        F.format_string("n%07d", F.col("id")).alias("ent2"),
    )
    edges = chain.unionByName(leaf_edges).unionByName(hub_anchor)
    n_edges = edges.count()
    assert n_edges > 500_000  # over the driver_threshold -> distributed path

    # round bound: pointer jumping doubles reach per round —
    # log2(4096) + slack must suffice (max_iter exhaustion raises)
    max_rounds = int(math.log2(chain_n)) + 4
    cc = canonicalize.connected_components(edges, max_iter=max_rounds)
    # single component, canon = global min entity (h00 < l... < n...)
    canons = cc.select("canon_id").distinct().collect()
    assert [r["canon_id"] for r in canons] == ["h00"]
    assert cc.count() == chain_n + leaves + 12

    # equality with the driver union-find on the same edges
    uf = canonicalize._driver_union_find(edges)
    assert cc.exceptAll(uf).count() == 0 and uf.exceptAll(cc).count() == 0


def test_arrow_cosine_and_buckets_bit_equal_sql_fold(spark):
    """The r6 vectorized pair scorer and LSH signer must reproduce the
    SQL fold bit-for-bit: np.cumsum is the same left-to-right float64
    accumulation, and the trailing +0.0 matches the fold's 0.0 seed on
    the -0.0 edge. Exact equality, no tolerance."""
    import numpy as _np

    from veealign_spark.functions.text_norm import cosine_expr

    rng = _np.random.default_rng(99)
    dim, n = 64, 400
    rows = [
        (i, [float(x) for x in rng.standard_normal(dim).astype(_np.float32)])
        for i in range(n)
    ]
    # include exact-zero and negative-zero elements to stress the edge
    rows[0] = (0, [0.0] * dim)
    rows[1] = (1, [-0.0] * dim)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = emb.alias("a").join(
        emb.alias("b"), F.col("a.vec_id") == (F.col("b.vec_id") + 7) % n
    )
    ref = pairs.select(
        F.col("a.vec_id").alias("id"),
        cosine_expr(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
    ).toPandas().sort_values("id")
    got = pairs.select(
        F.col("a.vec_id").alias("id"),
        ann._cos_pd(dim)(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
    ).toPandas().sort_values("id")
    ra, ga = ref["c"].to_numpy(), got["c"].to_numpy()
    assert (ra == ga).all()  # bitwise-equal values (incl. signs of zero)
    assert (_np.signbit(ra) == _np.signbit(ga)).all()

    bref = emb.select(
        "vec_id", ann._bucket_expr(F.col("embedding"), dim, 10, 11).alias("b")
    ).toPandas().sort_values("vec_id")
    bgot = emb.select(
        "vec_id",
        F.element_at(ann._buckets_pd(dim, 10, [11])(F.col("embedding")), 1).alias("b"),
    ).toPandas().sort_values("vec_id")
    assert (bref["b"].to_numpy() == bgot["b"].to_numpy()).all()


def test_empty_match_graph_runs_no_python(spark):
    """An empty match graph takes the local union-find path and comes back
    as an empty LocalRelation: no PythonRDD in its lineage."""
    from veealign_spark.operators import canonicalize

    edges = spark.range(0).select(
        F.lit("a").alias("ent1"), F.lit("b").alias("ent2")
    )
    cc = canonicalize.connected_components(edges)
    lineage = cc._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
    assert cc.schema.simpleString() == "struct<entity:string,canon_id:string>"
    assert cc.count() == 0
