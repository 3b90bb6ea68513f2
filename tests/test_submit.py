"""spark-submit --py-files end-to-end (north rule's deployment mode).

Zips the package, writes a synthetic transcripts+truth parquet pair,
and runs tools/submit_job.py through a REAL `spark-submit --py-files`
in a separate JVM whose environment has no repo on PYTHONPATH — so the
imports provably come from the zip, exactly as they would on a
cluster where the repo does not exist on any node. Then re-submits
with --run-id unchanged to prove checkpoint resume (stage tables are
reused, output identical).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit_cmd():
    exe = shutil.which("spark-submit")
    if exe is None:
        import pyspark

        exe = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return exe


def _submit(zip_path, workdir, out_dir, transcripts, truth, extra=()):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)  # imports must come from --py-files
    }
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        _spark_submit_cmd(),
        "--master", "local[8]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.driver.memory=4g",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "tools", "submit_job.py"),
        "--transcripts", transcripts,
        "--truth", truth,
        "--workdir", workdir,
        "--out", out_dir,
        *extra,
    ]
    proc = subprocess.run(
        cmd, cwd="/tmp", env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    lines = [l for l in proc.stdout.splitlines() if l.startswith("SUBMIT_RESULT ")]
    assert lines, f"no SUBMIT_RESULT line in stdout:\n{proc.stdout[-2000:]}"
    return json.loads(lines[-1][len("SUBMIT_RESULT "):])


def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    from entityframe_spark.pipeline.transcripts import synthesize_transcripts

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "entityframe_spark.zip"))
    # the zip must not be trivially empty and must contain the package
    import zipfile

    from entityframe_spark.functions import b3_native, jw_native, uf_native

    names = zipfile.ZipFile(zip_path).namelist()
    assert "entityframe_spark/__init__.py" in names
    assert len(names) > 20
    # the three prebuilt kernels ride along for compiler-less executors
    assert {n for n in names if n.endswith(".so")} == {
        f"entityframe_spark/functions/{k.name}"
        for k in (jw_native.KERNEL, uf_native.KERNEL, b3_native.KERNEL)
    }

    transcripts, truth = synthesize_transcripts(spark, n_conversations=200)
    t_path, y_path = str(tmp_path / "transcripts"), str(tmp_path / "truth")
    transcripts.write.parquet(t_path)
    truth.write.parquet(y_path)

    workdir, out_dir = str(tmp_path / "ckpt"), str(tmp_path / "out")
    summary = _submit(zip_path, workdir, out_dir, t_path, y_path)

    assert summary["n_records"] >= 200  # 200 bases + dup/variant conversations
    assert summary["n_candidate_pairs"] > 0
    ev = summary["evaluation"]
    assert ev["f1"] >= 0.99, ev  # the north-rule gate, through spark-submit
    # written outputs: clusters covers every record; metrics row exists
    clusters = spark.read.parquet(out_dir + "/clusters")
    assert clusters.count() == summary["n_records"]
    assert {f.name for f in clusters.schema} == {"record_id", "cluster_id"}
    assert spark.read.parquet(out_dir + "/metrics").count() == 1
    # per-stage lineage/metrics rows landed in the checkpoint workdir
    stages = spark.read.parquet(workdir + "/_metrics")
    assert {r["stage"] for r in stages.collect()} >= {
        "collapse", "pairs", "scored", "clusters",
    }

    # resume: second submit with the same run-id reuses every stage and
    # reproduces the same summary
    summary2 = _submit(zip_path, workdir, str(tmp_path / "out2"), t_path, y_path)
    assert summary2 == summary
