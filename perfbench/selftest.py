"""Self-test of the benchmark's output checks:

    python3 perfbench/selftest.py

Runs one round of the query mix on a small seeded extract with one planted
wrong expectation (one more row than the generator produced for one
shape) and one planted wrong corpus digest, and exits 0 only if exactly
the planted ops are counted as failed and every other op passes.
"""

from __future__ import annotations

import os
import sys

import run


def main() -> int:
    if not (run.ROOT / "osmdatapy_spark" / "__init__.py").is_file():
        print(f"selftest: no osmdatapy_spark package under {run.ROOT}", file=sys.stderr)
        return 2
    run.hermetic_env()
    sys.path.insert(0, str(run.ROOT))
    from spans import Tracer
    from workloads import SHAPES, CurateCorpus, QueryMix

    qm = QueryMix(str(run.WORK), Tracer(False))
    qm.N_ELEMENTS = 20_000
    qm.prepare(seed=7)
    planted = SHAPES[1]
    qm.expected["shapes"][planted]["rows"] += 1
    cc = CurateCorpus(str(run.WORK), Tracer(False))
    cc.N_DOCS = 500
    cc.prepare(seed=7)
    cc.expected["digest"] = "0" * 64

    from osmdatapy_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        qm.open(spark)
        cc.open(spark)
        ops = [qm.run(k, i, traced=False) for i, k in enumerate(SHAPES)]
        ops.append(cc.run("recipe", len(ops), traced=False))
    finally:
        run.stop_spark(spark)
        qm.cleanup()
        cc.cleanup()
    failed = {o.key for o in ops if o.error}
    for o in ops:
        print(f"{o.key:<22} {'FAILED: ' + o.error if o.error else 'ok'}")
    want = {planted, "recipe"}
    rate = len(failed) / len(ops)
    print(f"error_rate {rate:.3f} ({len(failed)} of {len(ops)} ops failed; planted {sorted(want)})")
    if failed != want:
        print("selftest FAILED: the planted wrong expectations were not exactly the failures")
        return 1
    print("selftest passed")
    return 0


if __name__ == "__main__":
    from reaper import CHILD_ENV, supervise

    if os.environ.get(CHILD_ENV):
        sys.exit(main())
    sys.exit(supervise(__file__, sys.argv[1:], 600.0))
