"""Staging and tier lifetimes (session.py): durable tiers live under the
application's own directory, stage-once artifacts are written once per
(application, corpus) and re-staged when a part goes missing, the ANN
indexes build straight into their oracle stage paths, and the registered
queries that materialize intermediates leave the CacheManager empty."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

from promhouse_spark.session import _STAGED, materialize_tier, stage_once


def test_durable_tier_path_carries_application_id(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    tier = materialize_tier(spark.range(10), site="tier_path_probe")
    files = tier.inputFiles()
    app = spark.sparkContext.applicationId
    assert files and all(f"{tmp_path}/{app}/" in f for f in files), files
    assert tier.count() == 10


def test_app_tier_dir_is_removed_at_interpreter_exit(tmp_path):
    code = (
        "import os, sys\n"
        "from promhouse_spark.session import _app_tier_dir\n"
        "d = _app_tier_dir(sys.argv[1], 'app-exit-probe')\n"
        "os.makedirs(os.path.join(d, 'site.parquet'))\n"
        "open(os.path.join(d, 'site.parquet', 'part-0'), 'w').close()\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)], check=True, cwd=root
    )
    assert os.listdir(tmp_path) == []


def test_stage_once_writes_once_and_restages_a_lost_part(spark, tmp_path):
    path = str(tmp_path / "probe.parquet")
    calls = []

    def build():
        calls.append(1)
        return spark.range(5)

    corpus = str(tmp_path / "corpus")
    assert stage_once(spark, corpus, path, build).count() == 5
    assert stage_once(spark, corpus, path, build).count() == 5
    assert len(calls) == 1
    os.remove(os.path.join(path, "_SUCCESS"))
    assert stage_once(spark, corpus, path, build).count() == 5
    assert len(calls) == 2
    # another corpus in the same application rebuilds before its read
    stage_once(spark, str(tmp_path / "other"), path, build)
    assert len(calls) == 3
    _STAGED.pop(path)


def test_ann_indexes_build_once_into_their_stage_paths(spark, sf_dir):
    from promhouse_spark.workloads.llmdata import _IVF_STAGE, emb_ivf_ann_topk
    from promhouse_spark.workloads.llmdata3 import (
        _IVFPQ_STAGE,
        _PQ_STAGE,
        emb_ivfpq_ann_topk,
        emb_pq_ann_topk,
    )

    def tempdirs():
        return {
            p
            for prefix in ("phs-ivf-", "phs-pq-", "phs-ivfpq-")
            for p in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*"))
        }

    def markers():
        return {
            p: os.stat(p).st_mtime_ns
            for stage in (_IVF_STAGE, _PQ_STAGE, _IVFPQ_STAGE)
            for p in glob.glob(os.path.join(stage, "*", "_SUCCESS"))
        }

    queries = (emb_ivf_ann_topk, emb_pq_ann_topk, emb_ivfpq_ann_topk)
    before = tempdirs()
    for q in queries:
        q(spark, sf_dir)
    first = markers()
    # IVF: vectors + centroids; PQ: codes + codebook; IVF-PQ: all three
    assert len(first) == 7, first
    for q in queries:
        assert len(q(spark, sf_dir).collect()) == 10
    assert markers() == first
    assert tempdirs() <= before


def test_registered_queries_leave_the_cache_manager_empty(spark, sf_dir):
    from promhouse_spark.operators.dedup import simhash_near_duplicates
    from promhouse_spark.session import load_table
    from promhouse_spark.workloads.llmdata5 import (
        doc_dsir_select,
        doc_hashlr_quality,
    )

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    for build in (
        lambda: doc_hashlr_quality(spark, sf_dir),
        lambda: doc_dsir_select(spark, sf_dir),
        lambda: simhash_near_duplicates(docs),
    ):
        build().collect()
        assert cache_manager.isEmpty()
