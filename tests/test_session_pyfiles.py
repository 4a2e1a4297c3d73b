"""``session.ensure_executors_can_import`` ships the CURRENT package to the
Python workers, even when a stale zip sits at the pid-derived temp path an
earlier process (with the same pid) left behind."""

import json
import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in its own process (a fresh SparkContext whose Python workers start
# outside the repo, so they can import the package only from the zip Spark
# ships).  It plants a stale zip at the temp path named after its own pid,
# then reports what the executor imported.
_CHILD = textwrap.dedent(
    """
    import json, os, sys, tempfile, zipfile
    sys.path.insert(0, {repo!r})
    stale = os.path.join(tempfile.gettempdir(), f"rss_feed_etl_spark-{{os.getpid()}}.zip")
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("rss_feed_etl_spark/__init__.py", "STALE = True\\n")
    try:
        from pyspark.sql import SparkSession
        from rss_feed_etl_spark.session import ensure_executors_can_import

        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "512m")
            .getOrCreate()
        )
        ensure_executors_can_import(spark)

        def probe(_):
            import rss_feed_etl_spark
            import rss_feed_etl_spark.session as session

            yield (
                getattr(rss_feed_etl_spark, "STALE", False),
                hasattr(session, "ensure_executors_can_import"),
                rss_feed_etl_spark.__file__,
            )

        seen = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
        print("PROBE", json.dumps(seen))
        spark.stop()
    finally:
        os.remove(stale)
    """
)


def test_executors_import_current_package_despite_stale_pid_zip(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != _REPO
    )
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=_REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    probe = next(l for l in proc.stdout.splitlines() if l.startswith("PROBE "))
    stale, current, where = json.loads(probe[len("PROBE "):])
    assert not stale
    assert current
    assert ".zip" in where  # imported from the shipped zip, not from a checkout
