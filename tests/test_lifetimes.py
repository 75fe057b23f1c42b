"""Engine state lifetimes: what is built once is built once per
SparkSession (``session.session_memo``), and every file the engine
writes lives under ``scratch.scratch_root()`` and is gone when its
process exits.

Each test runs a fresh Python process with ``TMPDIR`` pointed at an
empty directory and Spark's local dirs at a separate one, so anything
the engine leaves in the temp dir shows up there.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RESTART = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from starrocks_spark import session
    from starrocks_spark.queries import llm_pipeline

    names = ["fulltext_match_all", "ann_ivf_probe", "dedup_simhash"]

    def rows(spark):
        return {{n: sorted(map(repr, getattr(llm_pipeline, n)(
            spark, {sf_dir!r}).collect())) for n in names}}

    spark = session.get_spark(master="local[1]", shuffle_partitions=1)
    first = rows(spark)
    spark.stop()
    spark = session.get_spark(master="local[1]", shuffle_partitions=1)
    second = rows(spark)
    for n in names:
        print(n, len(first[n]), "SAME" if first[n] == second[n] else "DIFF")
    spark.stop()
""")

_FILES = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from starrocks_spark import scratch, session
    from starrocks_spark.queries import (
        connector_queries, sources_queries, ssb, streaming_queries)

    spark = session.get_spark(master="local[1]", shuffle_partitions=1)
    for fn in [sources_queries.files_csv_roundtrip,
               sources_queries.files_json_roundtrip,
               sources_queries.files_orc_partitioned_export,
               connector_queries.connector_duckdb_sink,
               streaming_queries.stream_tumbling_revenue,
               streaming_queries.stream_stateful_profiles,
               ssb.q1_1]:
        print(fn.__name__, len(fn(spark, {sf_dir!r}).collect()))
    flat = ssb.flat_table(spark, {sf_dir!r}).inputFiles()[0]
    print("FLAT_IN_SCRATCH",
          flat.startswith("file://" + scratch.scratch_root() + "/"))
    spark.stop()
""")


def _run(script: str, tmp_path, sf_dir: str) -> tuple[str, str]:
    """Run ``script`` in a fresh process with an empty TMPDIR; returns
    (stdout, that TMPDIR)."""
    tmpdir = tmp_path / "tmp"
    local = tmp_path / "spark-local"
    tmpdir.mkdir()
    local.mkdir()
    env = dict(os.environ, TMPDIR=str(tmpdir), SPARK_LOCAL_DIRS=str(local))
    proc = subprocess.run(
        [sys.executable, "-c", script.format(repo=_REPO, sf_dir=sf_dir)],
        capture_output=True, text=True, timeout=600, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout, str(tmpdir)


def test_build_once_artifacts_survive_a_session_restart(tmp_path, sf_dir):
    """The fulltext and IVF indexes and the signature-pairs table are
    remembered per session: after spark.stop() and a new get_spark()
    in the same process each query rebuilds and returns the same rows
    (a process-wide memo handed the new session the stopped one's
    frames)."""
    out, _ = _run(_RESTART, tmp_path, sf_dir)
    lines = [ln.split() for ln in out.splitlines() if ln.split()]
    got = {ln[0]: ln for ln in lines}
    for name in ["fulltext_match_all", "ann_ivf_probe", "dedup_simhash"]:
        assert got[name][2] == "SAME" and int(got[name][1]) > 0, out


def test_engine_files_are_gone_when_the_process_exits(tmp_path, sf_dir):
    """FILES() exports, the DuckDB connector's database and sink
    staging, staged and split stream sources, stream checkpoints and
    the SSB flat table all land under the process's scratch root, so
    TMPDIR is empty once the process has exited."""
    out, tmpdir = _run(_FILES, tmp_path, sf_dir)
    assert "FLAT_IN_SCRATCH True" in out, out
    assert os.listdir(tmpdir) == [], (os.listdir(tmpdir), out)
