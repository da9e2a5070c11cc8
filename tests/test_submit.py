"""North-rule shipping path: the job must run via
`spark-submit --py-files pdfspark.zip jobs/extract_job.py` in a fresh
JVM/driver — not only inside the pytest session's SparkSession."""

import os
import shutil
import subprocess
import zipfile
from types import SimpleNamespace

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


class _StandInBuilder:
    """Stand-in for SparkSession.builder whose getOrCreate returns the
    builder itself as the session: ``options`` holds what the builder
    was given, ``set_conf`` what was set on the session afterwards. So
    no second session starts."""

    def __init__(self):
        self.options, self.set_conf = {}, {}
        self.conf = SimpleNamespace(set=self.set_conf.__setitem__)
        self.sparkContext = SimpleNamespace(defaultParallelism=2)

    def master(self, m):
        self.options["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.options[k] = v
        return self

    def getOrCreate(self):
        return self


def test_build_session_defaults_to_the_cpus_it_may_use(monkeypatch):
    """Without SPARK_GRAFT_CPUS, build_session asks for one local task
    slot (and one shuffle partition) per CPU in the process's affinity
    mask, not a fixed count. Checked on a stand-in builder, so no
    second session starts."""
    import pdfspark.session as S

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(S.SparkSession, "builder", _StandInBuilder())
    n = len(os.sched_getaffinity(0))
    conf = S.build_session().options
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setattr(S.SparkSession, "builder", _StandInBuilder())
    assert S.build_session().options["master"] == "local[3]"


def test_build_session_keeps_submitted_conf(monkeypatch):
    """Under spark-submit (a gateway port in the environment, no master
    given) every --conf value stands: build_session gives the builder
    a default only for a key the submitted conf lacks, and sizes the
    shuffles itself only when no partition count was submitted.
    Checked on a stand-in builder and a stand-in submitted conf, so no
    second session starts."""
    import pdfspark.session as S

    submitted = {"spark.sql.execution.arrow.maxRecordsPerBatch": "64"}
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    monkeypatch.setattr(S, "SparkContext", SimpleNamespace(
        _ensure_initialized=lambda: None))
    monkeypatch.setattr(S, "SparkConf", lambda: SimpleNamespace(
        getAll=lambda: list(submitted.items())))

    def build():
        s = _StandInBuilder()
        monkeypatch.setattr(S.SparkSession, "builder", s)
        assert S.build_session() is s
        return s

    s = build()
    assert "spark.sql.execution.arrow.maxRecordsPerBatch" not in s.options
    assert "master" not in s.options
    assert "spark.driver.memory" not in s.options
    for key in ("spark.sql.adaptive.enabled",
                "spark.sql.files.maxPartitionBytes",
                "spark.sql.session.timeZone"):
        assert key in s.options, key
    assert s.set_conf == {"spark.sql.shuffle.partitions": "2"}

    submitted.update({"spark.sql.adaptive.enabled": "false",
                      "spark.sql.shuffle.partitions": "7"})
    s = build()
    assert "spark.sql.adaptive.enabled" not in s.options
    assert "spark.sql.shuffle.partitions" not in s.options
    assert s.set_conf == {}


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_conf_stands(tmp_path):
    """A session that build_session makes under a real spark-submit
    keeps the submitted --conf values and fills in the defaults of the
    keys that were not submitted."""
    keys = ["spark.sql.execution.arrow.maxRecordsPerBatch",
            "spark.sql.shuffle.partitions",
            "spark.sql.files.maxPartitionBytes"]
    script = tmp_path / "conf_stands.py"
    script.write_text(
        "from pdfspark.session import build_session\n"
        "spark = build_session()\n"
        f"for k in {keys!r}:\n"
        "    print('CONF', k, spark.conf.get(k))\n"
        "spark.stop()\n")
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    env.pop("PDFSPARK_MAX_PARTITION_BYTES", None)
    env["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, env.get("PYTHONPATH")]))
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.memory=512m",
            "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=64",
            "--conf", "spark.sql.shuffle.partitions=7",
            str(script),
        ],
        capture_output=True, text=True, timeout=300, env=env,
        cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-4000:]
    got = dict(line.split()[1:] for line in r.stdout.splitlines()
               if line.startswith("CONF "))
    # 8m is build_session's default; Spark's own is 128 MB
    assert got == {keys[0]: "64", keys[1]: "7", keys[2]: "8m"}, got


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
