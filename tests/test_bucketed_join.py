"""Bucketed-table co-located join: the SCALE.md storage-layout claim
("bucket edges by src so per-level joins are shuffle-free") made
executable — two tables bucketed on the join key sort-merge-join with
NO hash-partitioning exchange in the physical plan.
"""

import os
import subprocess
import sys
import tempfile

from pyspark.sql import functions as F


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.range(0, 20000).withColumn(
            "v", F.pmod(F.col("id") * 31, F.lit(997))
        )
        for name in ("bkt_a", "bkt_b"):
            (
                df.write.mode("overwrite")
                .option("path", str(tmp_path / name))
                .bucketBy(8, "id")
                .sortBy("id")
                .saveAsTable(name)
            )
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


_J11_CHILD = """
import os, sys
sys.path.insert(0, os.getcwd())
import __spark_entry__ as m
from hi_csa_db_spark.session import get_spark

spark = get_spark("j11-cleanup")
assert m.queries()["j11_bucketed_join"](spark, sys.argv[1]).count() > 0
(db,) = [d for d in spark.catalog.listDatabases() if d.name.startswith("bkt_")]
loc = db.locationUri.removeprefix("file:")
assert os.path.isdir(loc), loc
print(loc)
"""


def test_j11_removes_its_own_bucket_copies_at_exit(sf_dir):
    """j11 writes bucketed copies of orders and lineitem under
    /tmp/spark_graft_buckets/<tag> once per process; the process that
    wrote them removes that directory when it exits, and no other."""
    root = "/tmp/spark_graft_buckets"
    os.makedirs(root, exist_ok=True)
    other = tempfile.mkdtemp(dir=root)
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    try:
        r = subprocess.run(
            [sys.executable, "-c", _J11_CHILD, sf_dir],
            capture_output=True,
            text=True,
            timeout=600,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            env=env,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-3000:]
        loc = r.stdout.strip().splitlines()[-1]
        assert os.path.dirname(loc.rstrip("/")) == root, loc
        assert not os.path.exists(loc), loc
        assert os.path.isdir(other)
    finally:
        os.rmdir(other)
