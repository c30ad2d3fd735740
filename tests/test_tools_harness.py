"""Guard for the one measurement harness, tools/harness.py: the benchmark
and tool scripts build their SparkSession through its factory, import
without starting Spark, and read the one headline query list."""

import pathlib
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
