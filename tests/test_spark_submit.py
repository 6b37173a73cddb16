"""End-to-end spark-submit --py-files smoke test (north rule: the job must
run via spark-submit with the package shipped as a zip, no repo on the
executor path)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_py_files(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
        if not os.path.exists(spark_submit):
            pytest.skip("spark-submit not available")

    # package the library exactly as a cluster submit would
    zip_path = tmp_path / "kg.zip"
    pkg = os.path.join(REPO, "graphrag_rs_spark")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))

    # tiny deterministic transcript input
    in_dir = tmp_path / "transcripts"
    gen = subprocess.run(
        [
            sys.executable, "-c",
            (
                "import sys; sys.path.insert(0, %r);"
                "from pyspark.sql import SparkSession;"
                "from graphrag_rs_spark.fixtures import transcripts_df;"
                "s = SparkSession.builder.master('local[2]')"
                ".config('spark.ui.enabled','false').getOrCreate();"
                "transcripts_df(s, 12, seed=3).write.mode('overwrite')"
                ".parquet(%r); s.stop()" % (REPO, str(in_dir))
            ),
        ],
        capture_output=True, text=True, timeout=300,
    )
    assert gen.returncode == 0, gen.stderr[-2000:]

    out_dir = tmp_path / "workspace"
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be self-sufficient
    run = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.memory=3g",
            "--py-files", str(zip_path),
            os.path.join(REPO, "scripts", "build_job.py"),
            "--input", str(in_dir),
            "--output", str(out_dir),
        ],
        capture_output=True, text=True, timeout=600, env=env, cwd=str(tmp_path),
    )
    assert run.returncode == 0, run.stderr[-3000:]
    line = [l for l in run.stdout.splitlines() if l.startswith("{")][-1]
    result = json.loads(line)
    assert result["n_nodes"] > 0 and result["n_edges"] > 0
    for sub in ("entities", "relationships", "chunks", "documents", "node_stats"):
        assert (out_dir / sub).exists(), f"missing workspace table {sub}"


def _build_job():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "build_job", os.path.join(REPO, "scripts", "build_job.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_build_job_has_one_config_path(tmp_path):
    """Without --config the job builds on PipelineConfig's defaults, as an
    empty config file does; an explicit flag overrides a file value."""
    from graphrag_rs_spark.config import PipelineConfig

    job = _build_job()
    io = ["--input", "in", "--output", "out"]
    empty = tmp_path / "empty.toml"
    empty.write_text("")
    assert (
        job.build_config(job.parse_args(io))
        == job.build_config(job.parse_args([*io, "--config", str(empty)]))
        == PipelineConfig()
    )

    conf = tmp_path / "kg.toml"
    conf.write_text(
        "[text_processing]\nchunk_size = 700\nchunk_overlap = 50\n"
        "[spark]\nshuffle_partitions = 12\n"
    )
    from_file = job.build_config(job.parse_args([*io, "--config", str(conf)]))
    assert (from_file.chunk_size, from_file.chunk_overlap) == (700, 50)
    assert from_file.shuffle_partitions == 12
    flagged = job.build_config(job.parse_args(
        [*io, "--config", str(conf), "--chunk-size", "1000"]
    ))
    assert (flagged.chunk_size, flagged.chunk_overlap) == (1000, 50)
    assert flagged.shuffle_partitions == 12
