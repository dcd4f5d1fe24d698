"""Pinned-tree interleaved A/B for the ETL pipeline bench row.

The bench's ``--ab`` mode covers catalog queries only; the ETL row
(etl_pipeline_two_stage) is timed by ``bench.py`` through
``etl_pipeline_bench``, so adjudicating an ETL change needs its own
interleave.  This is the recording protocol behind ETL_AB_r13.json
(VERDICT r12 task 5), committed as a tool in r14 so the session is
reproducible: the ref tree (``git archive <ref>``) and HEAD alternate
passes in ONE Spark session and the RATIO is reported — ambient host
drift hits both sides equally.  That one session is HEAD's, so the
record's ``session_differs`` says whether a session-default change
went unmeasured (``bench.session_differs``).

Usage: python tools/etl_ab.py <git-ref> [rounds]
Writes the JSON record to stdout (one line, last).
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import session_differs  # noqa: E402
from rabbit_in_a_blender_spark.core.session import get_spark  # noqa: E402


def _purge_pkg_modules() -> None:
    for mod in list(sys.modules):
        if mod.startswith("rabbit_in_a_blender_spark"):
            del sys.modules[mod]


def _bench_module(root: str):
    """Import <root>/bench.py under a tree-unique name with the tree's
    package on the path (purged before and after by the caller)."""
    spec = importlib.util.spec_from_file_location(
        f"bench_ab_{abs(hash(root))}", os.path.join(root, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_tree(root: str, spark, sf_dir: str) -> float:
    _purge_pkg_modules()
    sys.path.insert(0, root)
    try:
        sec, _ = _bench_module(root).etl_pipeline_bench(spark, sf_dir)
        return round(sec, 3)
    finally:
        sys.path.remove(root)
        _purge_pkg_modules()


def main() -> None:
    ref = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    refdir = tempfile.mkdtemp(prefix="etl_ab_")
    try:
        tar = subprocess.run(
            ["git", "archive", ref], cwd=HERE, capture_output=True, timeout=120
        )
        if tar.returncode != 0:
            sys.exit(f"git archive {ref} failed: {tar.stderr.decode()[:300]}")
        subprocess.run(
            ["tar", "-x", "-C", refdir], input=tar.stdout, check=True, timeout=120
        )
        differs = session_differs(ref)
        spark = get_spark("etl-ab")
        spark.sparkContext.setLogLevel("ERROR")
        # one untimed warmup pass per tree (codegen + committer paths)
        _run_tree(refdir, spark, "/root/testdata/sf0.001")
        _run_tree(HERE, spark, "/root/testdata/sf0.001")
        reps = {"ref": [], "head": []}
        for _ in range(rounds):
            for side, root in (("ref", refdir), ("head", HERE)):
                reps[side].append(_run_tree(root, spark, sf_dir))
        med = lambda xs: sorted(xs)[len(xs) // 2]
        rec = {
            "metric": "etl_ab_head_over_ref",
            "ref": ref[:9],
            "rounds": rounds,
            "sf_dir": sf_dir,
            "session_differs": differs,
            "two_stage": {
                **reps,
                "ratio": round(med(reps["head"]) / med(reps["ref"]), 3),
            },
        }
        print(json.dumps(rec))
    finally:
        shutil.rmtree(refdir, ignore_errors=True)


if __name__ == "__main__":
    main()
