"""End-to-end spark-submit --py-files run (north_rule: "runs end-to-end
via spark-submit --py-files"): package the engine into a zip, submit the
shorelines job from OUTSIDE the repo (so the engine can only come from
--py-files), then resume it and check completed cells are skipped."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import package_pyfiles

    zip_path = package_pyfiles.build(str(tmp_path / "engine.zip"))
    job = tmp_path / "run_shorelines.py"
    shutil.copy(os.path.join(REPO, "jobs", "run_shorelines.py"), job)

    def submit(extra):
        cmd = [
            SPARK_SUBMIT, "--master", "local[4]",
            "--py-files", zip_path, str(job),
            "--tiles-table", str(tmp_path / "tiles"),
            "--output", str(tmp_path / "shorelines"),
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ] + extra
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        out = subprocess.run(
            cmd, capture_output=True, text=True, cwd=str(tmp_path),
            env=env, timeout=420,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    first = submit(["--synth", "3,2,2000,2001,3", "--tile-px", "64",
                    "--halo-px", "4"])
    assert first["n_tiles"] == 3 * 2 * 2 * 3
    assert first["n_shorelines"] > 0
    assert first["resumed_keys"] == 0

    second = submit([])
    assert second["resumed_keys"] > 0  # lineage resume kicked in
    assert second["n_shorelines"] == first["n_shorelines"]


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available"
)
def test_sigkill_mid_run_resumes_without_recompute(tmp_path):
    """north_rule verbatim: 'a killed job resumes without recomputing
    completed H3 cells'. SIGKILL the job once the first per-cell
    checkpoint commit lands, rerun, and check the rerun (a) skips the
    completed cells and (b) produces exactly the uninterrupted result."""
    import signal
    import time

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import package_pyfiles

    zip_path = package_pyfiles.build(str(tmp_path / "engine.zip"))
    job = tmp_path / "run_shorelines.py"
    shutil.copy(os.path.join(REPO, "jobs", "run_shorelines.py"), job)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}

    def cmd(tag, extra, checkpoint=True):
        c = [
            SPARK_SUBMIT, "--master", "local[4]",
            "--py-files", zip_path, str(job),
            "--tiles-table", str(tmp_path / "tiles"),
            "--output", str(tmp_path / f"shorelines_{tag}"),
        ]
        if checkpoint:
            c += [
                "--checkpoint-dir", str(tmp_path / f"ckpt_{tag}"),
                "--checkpoint-batch-cells", "1",
            ]
        return c + extra
    synth = ["--synth", "3,2,2000,2001,3", "--tile-px", "64", "--halo-px", "4"]

    # uninterrupted, UNCHECKPOINTED baseline (also writes the tiles
    # table): the true oracle — the equality check below certifies
    # batched-resumed == plain single-pass, not batched == batched
    base = subprocess.run(cmd("base", synth, checkpoint=False),
                          capture_output=True, text=True,
                          cwd=str(tmp_path), env=env, timeout=420)
    assert base.returncode == 0, base.stderr[-2000:]

    # victim run: SIGKILL as soon as the first per-cell commit exists
    victim = subprocess.Popen(cmd("v", []), cwd=str(tmp_path), env=env,
                              stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL)
    first_commit = (tmp_path / "ckpt_v" / "shorelines" / "metadata"
                    / "v1.metadata.json")
    deadline = time.time() + 300
    killed = False
    while time.time() < deadline and victim.poll() is None:
        if first_commit.exists():
            victim.send_signal(signal.SIGKILL)
            killed = True
            break
        time.sleep(0.2)
    victim.wait(60)

    # resume run on the same checkpoint dir
    out = subprocess.run(cmd("v", []), capture_output=True, text=True,
                         cwd=str(tmp_path), env=env, timeout=420)
    assert out.returncode == 0, out.stderr[-2000:]
    second = json.loads(out.stdout.strip().splitlines()[-1])
    if killed:
        # at least the committed cells were skipped, none recomputed
        assert second["resumed_keys"] >= 1
    assert second["n_shorelines"] > 0

    # byte-level equality of the final tables (victim resumed == baseline)
    from dea_coastlines_spark.session import get_spark
    from dea_coastlines_spark.sources.table import SnapshotTable

    spark = get_spark("kill-test", cpus=4)
    a = SnapshotTable(spark, str(tmp_path / "shorelines_base")).read()
    b = SnapshotTable(spark, str(tmp_path / "shorelines_v")).read()
    cols = ["cell_id", "tile_x", "tile_y", "year", "n_vertices", "certainty"]
    ra = sorted(map(tuple, a.select(*cols).collect()))
    rb = sorted(map(tuple, b.select(*cols).collect()))
    assert ra == rb
    ga = sorted(bytes(r.geometry) for r in a.select("geometry").collect())
    gb = sorted(bytes(r.geometry) for r in b.select("geometry").collect())
    assert ga == gb
