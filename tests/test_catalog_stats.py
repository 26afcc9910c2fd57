"""catalog.table_stats: footer rows and file bytes without a Spark job,
for single-file and directory-backed tables, and "unknown" (None) for
paths it cannot read."""

from __future__ import annotations

import os

from metadata_wrangler_spark.catalog import DEFAULT_SF_DIR as SF
from metadata_wrangler_spark.catalog import load, table_stats
from tests.conftest import build_jobs


def test_table_stats_directory_table_runs_no_job(spark, tmp_path):
    """A table stored as a directory of part files (plus Spark's
    _SUCCESS and hidden .crc side files): rows equal a full count,
    bytes equal the summed part sizes, and the probe starts no job."""
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "customer.parquet")
    load(spark, SF, "customer").repartition(3).write.parquet(path)
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) >= 2

    got = []
    jobs = build_jobs(
        spark, lambda: got.append(table_stats(sf_dir, "customer"))
    )
    assert jobs == 0
    st = got[0]
    assert st.rows == load(spark, sf_dir, "customer").count()
    assert st.bytes == sum(
        os.path.getsize(os.path.join(path, f)) for f in parts
    )


def test_table_stats_single_file_table(spark):
    st = table_stats(SF, "embeddings")
    assert st.rows == load(spark, SF, "embeddings").count()
    assert st.bytes == os.path.getsize(os.path.join(SF, "embeddings.parquet"))


def test_table_stats_unknown_for_missing_or_remote_path(tmp_path):
    assert table_stats(str(tmp_path), "customer") is None
    assert table_stats("s3a://bucket/sf1", "customer") is None
