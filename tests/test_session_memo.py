"""session.memo: state derived from the warehouse (staged corpora, ANN
indexes, registered views) is reused only while the table files it was
derived from are unchanged."""

from __future__ import annotations

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq

from nzgmdb_spark.oracle import check_query
from nzgmdb_spark.queries.dedup import _tokenized_docs
from nzgmdb_spark.queries.similarity import _ivf_index
from nzgmdb_spark.sql import create_views, run_sql
from nzgmdb_spark.tables import TABLE_NAMES
from tests.conftest import SF_SMALL, jobs_started


def _warehouse(path) -> str:
    os.makedirs(path)
    for name in TABLE_NAMES:
        # copyfile, not copy2: the copies must be writable
        shutil.copyfile(f"{SF_SMALL}/{name}.parquet", f"{path}/{name}.parquet")
    return str(path)


def _keep(sf_dir: str, table: str, id_col: str, keep) -> None:
    """Rewrite ``table`` in place with only the rows ``keep(ids)`` selects."""
    path = f"{sf_dir}/{table}.parquet"
    t = pq.read_table(path)
    pq.write_table(t.filter(keep(t[id_col])), path)


def _rows(spark, name: str, sf_dir: str) -> list:
    from nzgmdb_spark.queries import load_registry

    return sorted(tuple(r) for r in load_registry()[name].fn(spark, sf_dir).collect())


def test_rewritten_documents_restage_the_tokenized_corpus(spark, tmp_path):
    sf_dir = _warehouse(tmp_path / "w")
    before = _rows(spark, "dedup_ngram_jaccard", sf_dir)
    assert before  # non-vacuous: the full corpus has near-duplicate pairs
    # keep the even doc ids: fewer pairs, but not none
    _keep(sf_dir, "documents", "doc_id", lambda ids: pc.equal(pc.bit_wise_and(ids, 1), 0))
    after = _rows(spark, "dedup_ngram_jaccard", sf_dir)
    assert after and after != before
    assert not check_query("dedup_ngram_jaccard", sf_dir, spark)


def test_rewritten_embeddings_rebuild_the_ivf_index(spark, tmp_path):
    sf_dir = _warehouse(tmp_path / "w")
    before = _rows(spark, "ann_ivf_cosine", sf_dir)
    # keep the query and centroid vectors (the lowest ids) and the even ids
    _keep(
        sf_dir,
        "embeddings",
        "vec_id",
        lambda ids: pc.or_(pc.less(ids, 64), pc.equal(pc.bit_wise_and(ids, 1), 0)),
    )
    after = _rows(spark, "ann_ivf_cosine", sf_dir)
    assert after and after != before
    assert not check_query("ann_ivf_cosine", sf_dir, spark)


def test_second_staged_call_starts_no_job(spark, tmp_path):
    sf_dir = _warehouse(tmp_path / "w")
    for build in (_tokenized_docs, _ivf_index):
        first, jobs1 = jobs_started(spark, lambda: build(spark, sf_dir))
        second, jobs2 = jobs_started(spark, lambda: build(spark, sf_dir))
        assert jobs1 >= 1  # localCheckpoint materializes the stage
        assert jobs2 == 0
        assert second is first


def test_run_sql_after_create_views_of_another_warehouse(spark, tmp_path):
    a = _warehouse(tmp_path / "a")
    b = _warehouse(tmp_path / "b")
    _keep(b, "nation", "n_nationkey", lambda ids: pc.less(ids, 5))
    count = "SELECT COUNT(*) AS n FROM nation"
    assert run_sql(spark, a, count).collect()[0].n == 25
    create_views(spark, b)
    assert spark.sql(count).collect()[0].n == 5
    assert run_sql(spark, a, count).collect()[0].n == 25
