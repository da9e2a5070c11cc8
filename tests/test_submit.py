"""North-rule shipping path: the job must run via
`spark-submit --py-files pdfspark.zip jobs/extract_job.py` in a fresh
JVM/driver — not only inside the pytest session's SparkSession."""

import os
import shutil
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files(fixture_dir, tmp_path, spark):
    zpath = str(tmp_path / "pdfspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "pdfspark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    # modest resources: the pytest session's local[4] JVM is also alive
    env["SPARK_GRAFT_CPUS"] = "4"
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.memory=2g",
            "--py-files", zpath,
            # a COPY of the entrypoint outside the repo: its sys.path
            # fallback then points at tmp_path, so the pdfspark package
            # can only come from the --py-files zip
            shutil.copy(os.path.join(REPO, "jobs", "extract_job.py"),
                        str(tmp_path / "extract_job.py")),
            "--input", os.path.join(fixture_dir, "documents_in.parquet"),
            "--geom", os.path.join(fixture_dir, "spans_geom.parquet"),
            "--output", out,
            "--metrics", metrics,
        ],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=str(tmp_path),  # NOT the repo: forces imports through the zip
    )
    assert r.returncode == 0, r.stderr[-4000:]
    assert "extract_job: wrote" in r.stdout

    docs = spark.read.parquet(os.path.join(fixture_dir,
                                           "documents_in.parquet"))
    from pdfspark.sinks.snapshot import read_committed

    written = read_committed(spark, out)
    assert written is not None and written.count() == docs.count()
    m = read_committed(spark, metrics)
    assert m is not None
    assert m.groupBy().sum("doc_count").collect()[0][0] == docs.count()


def test_build_session_defaults_to_the_cpus_it_may_use(monkeypatch):
    """Without SPARK_GRAFT_CPUS, build_session asks for one local task
    slot (and one shuffle partition) per CPU in the process's affinity
    mask, not a fixed count. Checked on a stand-in builder, so no
    second session starts."""
    import pdfspark.session as S

    class Builder:
        def __init__(self):
            self.conf = {}

        def master(self, m):
            self.conf["master"] = m
            return self

        def appName(self, _name):
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            return self.conf

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(S.SparkSession, "builder", Builder())
    n = len(os.sched_getaffinity(0))
    conf = S.build_session()
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setattr(S.SparkSession, "builder", Builder())
    assert S.build_session()["master"] == "local[3]"


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_master_wins(fixture_dir, tmp_path, spark):
    """The master spark-submit was given runs the job, not
    ``local[$SPARK_GRAFT_CPUS]``: on a two-executor, one-core-each
    ``local-cluster`` the job commits the same rows as an in-process
    commit, and its lineage names the two tasks a default parallelism
    of 2 gives, not the 4 that SPARK_GRAFT_CPUS=4 would."""
    from pyspark.sql import functions as F

    from jobs.extract_job import main
    from pdfspark.sinks.snapshot import read_committed

    zpath = str(tmp_path / "pdfspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "pdfspark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    # the fixture table is one small file, which scans as one
    # partition under any master; eight files scan as more partitions
    # than either parallelism, so the fold's coalesce sets the count
    docs = str(tmp_path / "documents_in")
    (spark.read.parquet(os.path.join(fixture_dir, "documents_in.parquet"))
     .repartition(8).write.parquet(docs))
    local = str(tmp_path / "local_out")
    assert main(["--input", docs, "--output", local]) == 0

    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    env["SPARK_GRAFT_CPUS"] = "4"
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local-cluster[2,1,1024]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.memory=1g",
            "--py-files", zpath,
            shutil.copy(os.path.join(REPO, "jobs", "extract_job.py"),
                        str(tmp_path / "extract_job.py")),
            "--input", docs, "--output", out, "--metrics", metrics,
        ],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=str(tmp_path),
    )
    # executors log shutdown-hook noise as the app stops: judge the
    # exit code and the committed tables, not a clean stderr
    assert r.returncode == 0, r.stderr[-4000:]

    def row_hashes(table):
        df = read_committed(spark, table)
        return sorted(x.h for x in df.select(F.xxhash64(
            "doc_id", "status", "spans", "sections").alias("h")).collect())

    got = row_hashes(out)
    assert got == row_hashes(local)
    assert len(got) == spark.read.parquet(docs).count()
    m = read_committed(spark, metrics).collect()
    assert {x.partition_id for x in m} == {0, 1}, m
