"""The kNN corpus-profile memo and the observed round bookkeeping.

Every result is checked against the serial NumPy brute force of
``test_knn_split``. Jobs are counted inside a job group, after the
listener bus has drained."""

import uuid
from collections import OrderedDict

import numpy as np
import pandas as pd
import pytest

from tests.test_knn_split import frame, hot_layer, oracle
from workstealing_spatial_join_spark.operators import knn as KNN
from workstealing_spatial_join_spark.operators.knn import knn_haversine_join, knn_join


def in_group(spark, fn):
    """(fn(), ids of the jobs fn ran) — fn runs under a fresh job group."""
    sc = spark.sparkContext
    group = f"knn-bookkeeping-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def run(qdf, cdf, k=5, **kw):
    stats = {}
    rows = knn_join(qdf, cdf, k=k, query_id="id", cand_id="id", stats=stats, **kw).collect()
    got = {(r.query_id, r["rank"]): (r.neighbor_id, r.dist) for r in rows}
    assert len(got) == len(rows)
    return got, stats


@pytest.fixture
def profile_calls(monkeypatch):
    """Counts the profile aggregates (``_profile_rows`` calls)."""
    calls = []
    real = KNN._profile_rows

    def counting(c):
        calls.append(1)
        return real(c)

    monkeypatch.setattr(KNN, "_profile_rows", counting)
    return calls


def test_recached_corpus_is_profiled_again(spark, tmp_path, profile_calls):
    """A uniform corpus, then the same path overwritten with a hot cell:
    after unpersist, re-read and re-cache, the split stats and the
    neighbours follow the new data."""
    rng = np.random.default_rng(21)
    path = str(tmp_path / "corpus.parquet")
    uniform = hot_layer(rng, 2000, 0)
    spark.createDataFrame(uniform).write.parquet(path)
    corpus = spark.read.parquet(path).cache()
    q = uniform.iloc[:12]
    got, stats = run(spark.createDataFrame(q), corpus)
    assert stats["split_cells"] == 0
    assert got == oracle(q, uniform, 5, False)

    hot = hot_layer(rng, 1400, 600)
    spark.createDataFrame(hot).write.mode("overwrite").parquet(path)
    corpus.unpersist()
    corpus = spark.read.parquet(path).cache()
    q = pd.concat([hot.iloc[1400:1410], hot.iloc[:5]])
    got, stats = run(spark.createDataFrame(q), corpus)
    assert stats["split_cells"] == 1 and stats["max_level"] >= 2
    assert got == oracle(q, hot, 5, False)
    assert len(profile_calls) == 2
    corpus.unpersist()


def test_refreshed_cache_of_the_same_frame_is_profiled_again(
    spark, tmp_path, profile_calls
):
    """The SAME DataFrame object over files that change under it: after
    ``refreshByPath`` Spark serves it from new cache buffers, and the
    profile follows them, not the Python object."""
    rng = np.random.default_rng(22)
    path = tmp_path / "corpus.parquet"
    uniform = hot_layer(rng, 2000, 0)
    path.mkdir()
    uniform.to_parquet(path / "part-0.parquet")
    corpus = spark.read.parquet(str(path)).cache()
    q = uniform.iloc[:8]
    _, stats = run(spark.createDataFrame(q), corpus)
    assert stats["split_cells"] == 0

    hot = hot_layer(rng, 1400, 600)
    hot.to_parquet(path / "part-0.parquet")
    spark.catalog.refreshByPath(str(path))
    q = hot.iloc[1400:1408]
    got, stats = run(spark.createDataFrame(q), corpus)
    assert stats["split_cells"] == 1
    assert got == oracle(q, hot, 5, False)
    assert len(profile_calls) == 2
    corpus.unpersist()


def test_uncached_corpus_is_profiled_every_call(spark, profile_calls):
    rng = np.random.default_rng(23)
    c = hot_layer(rng, 1400, 600)
    corpus = spark.createDataFrame(c)
    q = spark.createDataFrame(c.iloc[1400:1405]).cache()
    for _ in range(2):
        got, _ = run(q, corpus)
        assert got == oracle(c.iloc[1400:1405], c, 5, False)
    assert len(profile_calls) == 2
    # a filter over a cached frame is not one cached relation either
    cached = corpus.cache()
    for _ in range(2):
        run(q, cached.where("lat < 100"))
    assert len(profile_calls) == 4
    cached.unpersist()
    q.unpersist()


def test_second_call_on_cached_corpus_runs_no_profile_job(spark, profile_calls):
    """The profile job runs once per cached corpus, and the great-circle
    join reads the same profile."""
    rng = np.random.default_rng(24)
    c = hot_layer(rng, 1400, 600)
    corpus = spark.createDataFrame(c).cache()
    corpus.count()

    def profile():
        return KNN._candidate_profile(corpus, "id", "lon", "lat", 1.0)

    first, jobs_first = in_group(spark, profile)
    second, jobs_second = in_group(spark, profile)
    assert jobs_first and not jobs_second
    assert second is first
    assert first.rows[0]["n"] == len(c)

    q = c.iloc[1400:1405]
    got, stats = run(spark.createDataFrame(q), corpus)
    assert got == oracle(q, c, 5, False) and stats["split_cells"] == 1
    rows = knn_haversine_join(
        spark.createDataFrame(q), corpus, k=3, query_id="id", cand_id="id"
    ).collect()
    assert len(rows) == 3 * len(q)
    assert len(profile_calls) == 1
    corpus.unpersist()


def test_cell_deg_and_column_names_key_separate_profiles(spark, profile_calls):
    rng = np.random.default_rng(25)
    c = hot_layer(rng, 1000, 0)
    c["lon2"] = c["lon"] + 30.0
    c["lat2"] = c["lat"] - 20.0
    corpus = spark.createDataFrame(c).cache()
    by_deg = KNN._candidate_profile(corpus, "id", "lon", "lat", 1.0)
    fine = KNN._candidate_profile(corpus, "id", "lon", "lat", 0.5)
    moved = KNN._candidate_profile(corpus, "id", "lon2", "lat2", 1.0)
    assert len({id(by_deg), id(fine), id(moved)}) == 3
    assert len(profile_calls) == 3
    assert fine.rows[1]["n"] < by_deg.rows[1]["n"]  # a half-degree cell holds fewer
    assert moved.rows[0]["x0"] == pytest.approx(by_deg.rows[0]["x0"] + 30.0)
    assert moved.rows[0]["y1"] == pytest.approx(by_deg.rows[0]["y1"] - 20.0)
    # the same key again is a hit
    assert KNN._candidate_profile(corpus, "id", "lon2", "lat2", 1.0) is moved
    assert len(profile_calls) == 3
    corpus.unpersist()


def test_profile_memo_under_concurrent_callers(spark, monkeypatch):
    """More threads than cores hit the memo with more corpora than it
    has slots: every caller gets its own corpus's profile and the memo
    stays within its bound. The aggregate and the cache probe are
    stubbed, so no job runs."""
    import sys
    import threading
    from types import SimpleNamespace

    class Corpus:
        def __init__(self, i):
            self.i = i
            self.sparkSession = spark

        def select(self, *cols):
            return self

        def withColumn(self, name, col):
            return self

    monkeypatch.setattr(KNN, "_profiles", OrderedDict())  # stubs stay out of the real memo
    monkeypatch.setattr(KNN, "_cache_buffers_id", lambda df: df.i)
    monkeypatch.setattr(KNN, "_profile_rows", lambda c: [SimpleNamespace(i=c.i)])
    corpora = [Corpus(i) for i in range(3 * KNN._PROFILE_SLOTS)]
    wrong = []

    def worker(seed):
        rng = np.random.default_rng(seed)
        try:
            for i in rng.integers(0, len(corpora), 300):
                got = KNN._candidate_profile(corpora[i], "id", "lon", "lat", 1.0)
                if got.rows[0].i != i:
                    wrong.append((i, got.rows[0].i))
        except Exception as exc:  # a race surfaces in its thread
            wrong.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    assert len(KNN._profiles) <= KNN._PROFILE_SLOTS


def test_queries_without_round_one_candidates_stay_exact(spark):
    """Queries far outside the corpus find no candidate in the first
    ring, so the round's observed counts disagree and the loop counts
    the remaining ids, then settles them in later rounds; queries
    inside the corpus settle in round 1 alongside."""
    rng = np.random.default_rng(26)
    c = hot_layer(rng, 1400, 600)
    corpus = spark.createDataFrame(c).cache()
    far = frame([-1, -2, -3], [25.0, -24.5, 18.0], [22.0, 15.0, -26.0])
    q = pd.concat([far, c.iloc[1400:1406], c.iloc[:4]])
    got, stats = run(spark.createDataFrame(q).cache(), corpus, initial_ring=1)
    assert stats["rounds"] >= 3
    assert got == oracle(q, c, 5, False)
    # only far queries: round 1 sees no candidate at all
    got, stats = run(spark.createDataFrame(far).cache(), corpus, initial_ring=1)
    assert stats["rounds"] >= 3
    assert got == oracle(far, c, 5, False)
    corpus.unpersist()


def test_duplicated_query_ids_end_with_the_deduplicated_rounds(spark):
    """Repeated query rows share one window partition and settle as one
    id, so the observed row count exceeds the settled count; the loop
    must still stop when every distinct id has settled."""
    rng = np.random.default_rng(30)
    c = hot_layer(rng, 1400, 600)
    corpus = spark.createDataFrame(c).cache()
    q = pd.concat([c.iloc[1400:1406], c.iloc[:6]])
    want = oracle(q, c, 5, False)
    _, s_unique = run(spark.createDataFrame(q).cache(), corpus)
    dup = pd.concat([q, q.iloc[:4], q.iloc[:2]])
    stats = {}
    rows = knn_join(
        spark.createDataFrame(dup).cache(), corpus, k=5, query_id="id",
        cand_id="id", stats=stats,
    ).collect()
    assert stats["rounds"] == s_unique["rounds"]
    assert {r.query_id for r in rows} == set(q["id"])
    best = {qid: {want[(qid, r)] for r in range(1, 6)} for qid in q["id"]}
    assert all((r.neighbor_id, r.dist) in best[r.query_id] for r in rows)
    corpus.unpersist()


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_repeated_query_ids_get_k_distinct_neighbours(spark, metric):
    """An id on several rows is one query: its k neighbours are those of
    the id given once, none repeated; an id given at two coordinates is
    queried at the lesser (lon, then lat). Unique ids run no extra job
    (the one-round op above)."""
    rng = np.random.default_rng(31)
    c = hot_layer(rng, 1400, 600)
    corpus = spark.createDataFrame(c).cache()
    q = pd.concat([c.iloc[1400:1406], c.iloc[:6]])
    moved = q.iloc[[1]].assign(lon=q.iloc[1].lon - 0.75)  # lesser lon
    dup = pd.concat([q, q.iloc[:4], q.iloc[:2], q.iloc[[1]], moved])
    once = pd.concat([q.iloc[[0]], moved, q.iloc[2:]])

    def neighbours(frame_):
        rows = knn_join(
            spark.createDataFrame(frame_).cache(), corpus, k=5, query_id="id",
            cand_id="id", metric=metric,
        ).collect()
        return sorted((r.query_id, r["rank"], r.neighbor_id) for r in rows)

    got = neighbours(dup)
    assert got == neighbours(once)
    assert len(got) == 5 * len(q)
    assert len({(qid, nid) for qid, _, nid in got}) == len(got)
    corpus.unpersist()


def test_uncached_queries_take_the_checkpoint_path(spark, monkeypatch):
    rng = np.random.default_rng(27)
    c = hot_layer(rng, 1400, 600)
    corpus = spark.createDataFrame(c).cache()
    q = pd.concat([c.iloc[1400:1410], c.iloc[:10]])
    plain_q = spark.createDataFrame(q)
    checkpoints = []
    cls = type(plain_q)
    real = cls.localCheckpoint

    def counting(self, *args, **kwargs):
        checkpoints.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    got_plain, s_plain = run(plain_q, corpus)
    n_plain = len(checkpoints)
    # cached afterwards: an equal uncached frame would be served from
    # this cache too
    cached_q = spark.createDataFrame(q).cache()
    got_cached, s_cached = run(cached_q, corpus)
    assert got_plain == got_cached == oracle(q, c, 5, False)
    assert s_plain["rounds"] == s_cached["rounds"]
    # one round checkpoint per non-final round, plus the input's
    assert n_plain == len(checkpoints) - n_plain + 1
    cached_q.unpersist()
    corpus.unpersist()


def test_one_round_op_on_cached_inputs_runs_at_most_four_jobs(spark):
    rng = np.random.default_rng(28)
    c = hot_layer(rng, 1400, 600)
    corpus = spark.createDataFrame(c).cache()
    q = pd.concat([c.iloc[1400:1420], c.iloc[:20]])
    queries = spark.createDataFrame(q).cache()
    queries.count()
    run(queries, corpus)  # profiles the corpus
    (got, stats), jobs = in_group(spark, lambda: run(queries, corpus))
    assert stats["rounds"] == 1
    assert got == oracle(q, c, 5, False)
    assert 0 < len(jobs) <= 4
    queries.unpersist()
    corpus.unpersist()
