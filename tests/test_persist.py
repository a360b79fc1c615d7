"""The tracked-persist registry: every internal operator persist must be
releasable through registry.clear_plan_cache() — the r6 ADVICE leak was
operators persisting intermediates (simhash fingerprints, OHLC fine
bars) behind handles nothing could unpersist, so refresh/cold-build
cycles accumulated block-manager storage.

Assertions go through the tracked handles' storage levels, not
getPersistentRDDs counts: dedup_components' localCheckpoint blocks are
lineage-anchored and reclaimed by the ContextCleaner on GC, so a raw
RDD count is timing-dependent."""

from __future__ import annotations

from pyspark.sql import functions as F

from dexscraper_spark import persist as P
from tests.conftest import SF_DIR


def _stored(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_operator_internal_persists_release_on_clear(spark):
    from dexscraper_spark.operators.dedup import simhash_near_pairs
    from dexscraper_spark.plans.registry import clear_plan_cache

    clear_plan_cache()
    assert P._TRACKED == []

    docs = spark.createDataFrame(
        [(i, f"some document text number {i % 3} with words")
         for i in range(20)],
        "doc_id long, text string")
    simhash_near_pairs(docs, id_col="doc_id", text_col="text").count()

    # the simhash fingerprint table is tracked... (the OHLC cascade used
    # to contribute a handle too; its single-shuffle form needs none)
    handles = list(P._TRACKED)
    assert len(handles) >= 1
    assert all(_stored(df) for df in handles)

    # ...and ONE switch releases them all
    clear_plan_cache()
    assert P._TRACKED == []
    assert all(not _stored(df) for df in handles)


def test_release_tracked_covers_curation_operator_persists(spark):
    """release_tracked() must release persists taken INSIDE the
    operators the curation pipeline calls (simhash fingerprints), not
    only its own dedup frame, or refresh cycles leak block-manager
    storage."""
    from dexscraper_spark.plans.curation import curate_corpus

    P.release_tracked()
    docs = spark.createDataFrame(
        [(i, "a perfectly reasonable english document with enough words "
             f"to pass the gates number {i}") for i in range(30)],
        "doc_id long, text string")
    curate_corpus(docs).count()
    handles = list(P._TRACKED)
    assert len(handles) >= 2          # dedup frame + fingerprint table
    assert all(_stored(df) for df in handles)
    P.release_tracked()
    assert P._TRACKED == []
    assert all(not _stored(df) for df in handles)


def test_materialized_artifacts_release_deterministically(spark):
    """materialize_artifact dirs are deleted by release_artifacts (the
    deterministic half the localCheckpoint approach could not give);
    a stale frame read after release fails LOUDLY, matching the plan
    cache's staleness contract. release_tracked must NOT delete them:
    the session memo holds live scans, and standalone release_tracked
    callers don't release the memo."""
    import os

    import pytest

    from dexscraper_spark.persist import materialize_artifact

    P.release_artifacts()
    df = spark.range(10).withColumnRenamed("id", "v")
    art = materialize_artifact(df, "testart")
    assert art.count() == 10
    [path] = P._ARTIFACT_DIRS
    assert os.path.isdir(path)
    P.release_tracked()          # persists only — dir must survive
    assert os.path.isdir(path) and art.count() == 10
    P.release_artifacts()
    assert not os.path.exists(path) and P._ARTIFACT_DIRS == []
    with pytest.raises(Exception):
        art.count()  # loud, never silently stale


def test_release_artifact_frees_one_frame(spark):
    """Per-frame release (the IvfIndex.unpersist path): deletes exactly
    the frame's own dir and returns False for non-artifact frames."""
    import os

    from dexscraper_spark.persist import materialize_artifact, release_artifact

    P.release_artifacts()
    a = materialize_artifact(spark.range(5), "arta")
    b = materialize_artifact(spark.range(5), "artb")
    pa, pb = P._ARTIFACT_DIRS
    assert release_artifact(a) is True
    assert not os.path.exists(pa) and os.path.isdir(pb)
    assert P._ARTIFACT_DIRS == [pb]
    assert release_artifact(spark.range(3)) is False  # not an artifact
    assert b.count() == 5
    P.release_artifacts()


def test_release_tracked_leaves_memoized_artifacts_usable(spark):
    """Regression: release_tracked used to sweep ALL
    artifact dirs — leaving the memoized ohlc_bars artifact a scan of a
    deleted dir (FILE_NOT_EXIST on every later call, with no rebuild
    path short of clear_plan_cache). The artifact the memo holds must
    stay readable."""
    from dexscraper_spark.plans.registry import clear_plan_cache, queries

    ohlc_bars = queries()["ohlc_bars"]
    clear_plan_cache()
    n = ohlc_bars(spark, SF_DIR).count()
    assert n > 0
    P.release_tracked()
    assert ohlc_bars(spark, SF_DIR).count() == n
    clear_plan_cache()


def test_ivf_unpersist_releases_artifact_dir(spark):
    """IvfIndex.unpersist() must actually free a cache=True index (the
    assignment is a parquet artifact; plain unpersist() is a no-op on
    it)."""
    import os

    from dexscraper_spark.operators.similarity import ivf_build

    P.release_artifacts()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = ivf_build(emb, nlist=4, cache=True)
    [path] = P._ARTIFACT_DIRS
    assert os.path.isdir(path)
    idx.unpersist()
    assert not os.path.exists(path) and P._ARTIFACT_DIRS == []


class _Probe:
    """A memo entry that records its release."""

    def __init__(self):
        self.released = False

    def unpersist(self):
        self.released = True


def test_session_memo_releases_other_apps_entries(spark):
    """An entry keyed to another (stopped) application is released and
    dropped on the next access; same-app access returns the identical
    object without rebuilding; entries without ``unpersist`` (plain
    lists) are dropped too."""
    stale, stale_list = _Probe(), [1, 2]
    P._MEMO[("app-gone", "probe", 1)] = stale
    P._MEMO[("app-gone", "probe", 2)] = stale_list
    built = []

    def build():
        built.append(1)
        return _Probe()

    try:
        first = P.session_memo(spark, ("probe", "x"), build)
        assert stale.released
        assert not any(k[0] == "app-gone" for k in P._MEMO)
        assert P.session_memo(spark, ("probe", "x"), build) is first
        assert built == [1] and not first.released
    finally:
        P._MEMO.pop((spark.sparkContext.applicationId, "probe", "x"), None)


def test_clear_plan_cache_releases_every_memo_kind(spark, monkeypatch):
    """REFRESH releases every memo entry kind — prepared plans, tables
    (unpersisted, like Spark's REFRESH TABLE), the bar/token artifacts,
    the IVF index and the LSH planes list — and empties the memo."""
    import os

    from dexscraper_spark.operators.similarity import IvfIndex, _lsh_planes
    from dexscraper_spark.plans import catalog, sinks_catalog
    from dexscraper_spark.plans.registry import clear_plan_cache, queries
    from dexscraper_spark.sources.tables import load_table

    clear_plan_cache()
    table = load_table(spark, SF_DIR, "events").cache()
    table.count()
    queries()["agg_rollup"](spark, SF_DIR)
    sinks_catalog._bars(spark, SF_DIR)
    sinks_catalog._excel_tokens(spark, SF_DIR)
    sinks_catalog._tokens(spark, SF_DIR)
    index = catalog._ivf_index(spark, SF_DIR)
    planes = _lsh_planes(spark)
    kinds = {k[1] for k in P._MEMO}
    assert {"plan", "table", "bars", "xtokens", "tokens", "ivf",
            "lsh_planes"} <= kinds
    assert isinstance(index, IvfIndex) and isinstance(planes, list)
    ivf_dirs = [h._dexart_path for h in index._release_handles]

    released = []
    release = P._release
    monkeypatch.setattr(P, "_release",
                        lambda e: (released.append(e), release(e)))
    clear_plan_cache()
    assert P._MEMO == {}
    assert any(e is index for e in released)
    assert any(e is planes for e in released)
    assert any(e is table for e in released)
    assert not _stored(table)
    assert ivf_dirs and not any(os.path.exists(d) for d in ivf_dirs)
    assert P._ARTIFACT_DIRS == []
