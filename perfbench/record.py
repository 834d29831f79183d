"""Re-record ``pinned.json``: the generator canary, and for each seed the
input digests and the correctness values each BENCHMARK.json workload's
gate compares against (drop_reason funnels, the curation result digest).

    python3 perfbench/record.py --seeds 0-39

Run it only when a change to the corpus generator or to the program's
outputs is intended; the benchmark fails on any difference otherwise. The
new pins are built in memory and replace ``pinned.json`` only once every
seed has been recorded.
"""

import argparse
import json
import os
import shutil
import sys

import run


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="0-39", help="range lo-hi, inclusive")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sys.path.insert(0, run.ROOT)
    run._isolate_env()

    import inputs
    from workloads import WORKLOADS, Ctx

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]

    pinned = {"canary": inputs.canary_digest(), "inputs": {}, "checks": {}}
    spark, _ = run.setup(None)
    try:
        for seed in range(lo, hi + 1):
            for w in (WORKLOADS[n] for n in names):
                # regenerate: the cache may hold the generator's output from
                # before the change being recorded
                shutil.rmtree(inputs.input_dir(os.path.join(run.WORK, "inputs"), seed, w.size),
                              ignore_errors=True)
                inp = inputs.ensure(os.path.join(run.WORK, "inputs"), seed, w.size, pinned)
                key = f"{seed}:{w.size}"
                pinned["inputs"][key] = inp["digest"]
                work = os.path.join(run.WORK, "record")
                shutil.rmtree(work, ignore_errors=True)
                os.makedirs(work)
                ctx = Ctx(spark=spark, inp=inp, work=work)
                errs, quality = w.check(ctx, [w.rep(ctx, 0)], {})
                if errs:
                    raise SystemExit(f"record: {w.name} seed {seed}: {errs}")
                pinned["checks"].setdefault(w.name, {})[key] = {
                    k: quality[k] for k in ("funnel", "digest") if k in quality
                }
                print(w.name, seed, quality.get("keep_f1"), file=sys.stderr)
                shutil.rmtree(work, ignore_errors=True)
    finally:
        run.stop(spark)
    tmp = inputs.PINNED + ".tmp"
    with open(tmp, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(tmp, inputs.PINNED)


if __name__ == "__main__":
    main()
