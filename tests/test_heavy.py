"""Misra-Gries heavy hitters tests (ext/heavy.py) — the guarantee math
on corpora where decrements actually fire (the fixture vocabulary is
tiny, so the catalog parity sweep alone exercises only the err=0 path).
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from meeseeker_spark.ext.heavy import heavy_hitters, mg_summaries, token_stream


def exact_candidate_counts(token_df, summaries):
    """Exact global counts of the MG candidate tokens only (the
    certificate's precondition check)."""
    cands = (summaries.where(F.col("token").isNotNull())
             .select("token").distinct())
    return (token_df.join(F.broadcast(cands), "token")
            .groupBy("token").agg(F.count("*").alias("n")))


def _docs(spark, texts, partitions=8):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    ).repartition(partitions)


def _zipf_texts(vocab=200, hot=5, hot_reps=400, tail_reps=3, per_doc=50):
    toks = []
    for i in range(hot):
        toks += [f"hot{i}"] * (hot_reps - 10 * i)
    for i in range(vocab):
        toks += [f"tail{i:03d}"] * tail_reps
    # deterministic interleave so hot tokens spread over partitions
    # (md5, not hash(): Python string hashing is per-process randomized)
    import hashlib
    toks.sort(key=lambda t: hashlib.md5(t.encode()).hexdigest())
    return [" ".join(toks[i:i + per_doc]) for i in range(0, len(toks), per_doc)]


def _brute(spark, docs, k):
    return (token_stream(docs).groupBy("token").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), "token").limit(k).collect())


def test_mg_superset_property(spark):
    """Any token whose exact count exceeds the accumulated bound B must
    survive phase 1 — the MG guarantee, on a run where decrements fire."""
    docs = _docs(spark, _zipf_texts())
    summaries = mg_summaries(token_stream(docs), budget=16).cache()
    bound = summaries.agg(F.sum("err")).collect()[0][0]
    assert bound > 0  # the decrement path actually executed
    cands = {r["token"] for r in summaries.collect() if r["token"] is not None}
    exact = token_stream(docs).groupBy("token").count().collect()
    missed = [r for r in exact if r["count"] > bound and r["token"] not in cands]
    assert not missed, missed
    summaries.unpersist()


def test_certified_exact_topk_under_truncation(spark):
    """With heavy skew and a small budget the certificate holds and the
    MG path returns exactly the brute-force top-k."""
    docs = _docs(spark, _zipf_texts())
    # the certificate must actually hold here (else this test would only
    # re-cover the fallback path): measured bound 21 vs kth count 360
    toks = token_stream(docs)
    summ = mg_summaries(toks, budget=16)
    bound = summ.agg(F.sum("err")).collect()[0][0]
    kth = (exact_candidate_counts(toks, summ)
           .orderBy(F.desc("n"), "token").limit(5).collect())[-1]["n"]
    assert 0 < bound < kth, (bound, kth)

    out = heavy_hitters(docs, k=5, budget=16)
    assert [tuple(r) for r in out.collect()] == \
        [tuple(r) for r in _brute(spark, docs, 5)]
    # the hot tokens are what it found
    assert all(r["token"].startswith("hot") for r in out.collect())


def test_fallback_on_near_uniform(spark):
    """Near-uniform counts defeat any sketch certificate; the operator
    must still return the exact top-k via the fallback aggregate."""
    texts = [" ".join(f"u{(i * 53 + j) % 500:03d}" for j in range(40))
             for i in range(100)]
    docs = _docs(spark, texts)
    out = heavy_hitters(docs, k=10, budget=8)
    assert [tuple(r) for r in out.collect()] == \
        [tuple(r) for r in _brute(spark, docs, 10)]


def test_err_zero_when_budget_covers_vocab(spark):
    docs = _docs(spark, _zipf_texts(vocab=50))
    summaries = mg_summaries(token_stream(docs), budget=4096)
    assert summaries.agg(F.sum("err")).collect()[0][0] == 0


def test_phase2_counts_are_exact(spark):
    """Phase-2 counts for surviving candidates equal the true counts
    (MG lower bounds are NOT reported; the verify join is)."""
    docs = _docs(spark, _zipf_texts())
    toks = token_stream(docs)
    exact = {(r["token"]): r["n"]
             for r in exact_candidate_counts(
                 toks, mg_summaries(toks, budget=16)).collect()}
    truth = {r["token"]: r["count"]
             for r in toks.groupBy("token").count().collect()}
    assert exact and all(truth[t] == n for t, n in exact.items())


def test_no_pinned_cache_after_return(spark):
    """ADVICE r8: heavy_hitters must unpersist its MG summary on EVERY
    path (certified, bound==0, fallback) — repeated calls in a
    long-lived session must not accumulate pinned RDDs.  The returned
    plan reads a driver-held literal candidate frame instead."""
    spark.catalog.clearCache()
    sc = spark.sparkContext

    def pinned_ids():
        # RDD *ids*, not a count: earlier tests' localCheckpoint residue
        # can be released by the ContextCleaner mid-test (a Python GC at
        # an unlucky moment), so a before/after COUNT comparison flakes —
        # r10 preflight caught exactly that (base 5 → end 0).  A leak by
        # heavy_hitters would be a NEW id, invariant to concurrent
        # cleanup of old ids.
        m = sc._jsc.getPersistentRDDs()
        it = m.keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    base = pinned_ids()
    # certified path (zipfian head) and fallback path (uniform)
    docs_hot = _docs(spark, _zipf_texts())
    out = heavy_hitters(docs_hot, k=5, budget=16)
    out.collect()
    uniform = _docs(spark, [f"u{i}" for i in range(300)])
    heavy_hitters(uniform, k=5, budget=8).collect()
    # bound == 0 path (budget covers the vocabulary)
    heavy_hitters(docs_hot, k=5, budget=100000).collect()
    assert pinned_ids() - base == set()
