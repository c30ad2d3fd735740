"""Guard for the one measurement harness, tools/harness.py: the benchmark
and tool scripts build their SparkSession through its factory, import
without starting Spark, and read the one headline query list; the tools
take the harness's driver memory and sample the scratch directories
Spark really writes to."""

import json
import os
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(ROOT.glob("tools/*.py")) + [ROOT / "bench.py", ROOT / "scale_check.py"]


def test_only_the_harness_builds_a_session():
    builders = [
        p.name for p in SCRIPTS if "SparkSession.builder" in p.read_text()
    ]
    assert builders == ["harness.py"]


def test_scripts_import_without_starting_spark():
    modules = [
        "bench" if p.name == "bench.py" else
        "scale_check" if p.name == "scale_check.py" else f"tools.{p.stem}"
        for p in SCRIPTS
    ]
    code = (
        "import importlib\n"
        f"for m in {modules!r}:\n"
        "    importlib.import_module(m)\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
        "assert SparkContext._gateway is None\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]


def test_one_headline_list():
    import bench
    import tests.test_oracle_parity_sf01 as parity_sf01
    import tools.sf01_rotation as rotation
    from tools.harness import HEADLINE

    assert bench.HEADLINE is HEADLINE
    assert rotation.HEADLINE is HEADLINE
    assert parity_sf01.HEADLINE is HEADLINE
    assert HEADLINE == [
        "fuse_merge", "resample_1m_global", "resample_keys_1h",
        "forward_fill_global", "sessionize_30m", "tpch_q1_pricing",
        "top_orders_per_priority", "revenue_per_nation", "dedup_exact",
        "dedup_minhash_lsh", "dedup_simhash", "text_stats", "lang_id",
        "doc_fingerprint", "similarity_topk", "embedding_neardup",
    ]


def test_no_tool_fixes_driver_memory():
    literal = re.compile(r"""["']spark\.driver\.memory["']\s*:\s*["']""")
    fixed = [p.name for p in ROOT.glob("tools/*.py") if literal.search(p.read_text())]
    assert fixed == []


def test_scratch_sampler_follows_spark_local_dirs(tmp_path):
    """``SPARK_LOCAL_DIRS`` overrides ``spark.local.dir``: the sampler
    must read the directories the block manager uses, under the former."""
    env_dir, conf_dir = tmp_path / "env", tmp_path / "conf"
    code = (
        "import json\n"
        "from pyspark import StorageLevel\n"
        "from tools.harness import sample_scratch_peak, session\n"
        f"spark = session('scratch_probe', 1, **{{'spark.local.dir': {str(conf_dir)!r}, "
        "'spark.driver.memory': '1g'})\n"
        "dirs = spark._jvm.org.apache.spark.SparkEnv.get().blockManager()"
        ".diskBlockManager().localDirs()\n"
        "print(json.dumps([d.getAbsolutePath() for d in dirs]))\n"
        "stop = sample_scratch_peak(spark)\n"
        "df = spark.range(200_000).persist(StorageLevel.DISK_ONLY)\n"
        "df.count()\n"
        "print(stop())\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "SPARK_LOCAL_DIRS": str(env_dir)}
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=600, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    dirs_line, peak_line = r.stdout.strip().splitlines()[-2:]
    dirs = json.loads(dirs_line)
    assert dirs and all(d.startswith(str(env_dir)) for d in dirs)
    assert int(peak_line) > 0
