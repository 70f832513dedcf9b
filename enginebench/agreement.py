"""Run-agreement check of the benchmark, the way an acceptance run uses it:
for each workload, run the benchmark once per seed, untraced, and report
every end-to-end metric's median, quartiles and spread (interquartile
distance over the median) against its bound in BENCHMARK.json. With
--sets 2 the seeds run twice and the second median is compared with the
first. With --traced, one traced run per workload also gives the tracing
overhead (traced end-to-end value over the untraced median). From the
repository root:

    python3 enginebench/agreement.py --seeds 10 --sets 2 --traced --out FILE
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def one_run(workload, seed, seconds, trace):
    """Run the benchmark once; returns (result, end-to-end values)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    e2e = next(json.loads(x.split(" ", 2)[2]) for x in lines
               if x.startswith("# end_to_end "))
    return json.loads(lines[-1]), e2e


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", help="comma list (default: BENCHMARK.json)")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", help="write every value here as JSON")
    args = ap.parse_args()

    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    seeds = list(range(args.first_seed, args.first_seed + args.seeds))
    out = {}
    for w in workloads:
        sets = []
        for _ in range(args.sets):
            runs = []
            for seed in seeds:
                t0 = time.monotonic()
                res, _ = one_run(w, seed, bench["run_seconds"], 0)
                if not res["correct"] or res["failed"]:
                    raise SystemExit(f"{w} seed {seed} incorrect: {res}")
                runs.append({k: v["value"] for k, v in res["metrics"].items()})
                runs[-1]["wall_s"] = time.monotonic() - t0
                print(f"{w} seed={seed} " + " ".join(
                    f"{k}={v:.5g}" for k, v in runs[-1].items()), flush=True)
            sets.append(runs)
        rows = {}
        for name, m in bounds.items():
            first = [r[name] for r in sets[0]]
            row = {"values": [[r[name] for r in s] for s in sets],
                   "median": stats.median(first),
                   "quartiles": stats.quartiles(first),
                   "spread": stats.spread(first), "bound": m["bound"]}
            if args.sets == 2:
                second = [r[name] for r in sets[1]]
                row["second_worse_by"] = stats.worse_by(first, second,
                                                        m["better"])
                row["agree"] = stats.agree(first, second, m["bound"],
                                           m["better"])
            rows[name] = row
            print(f"{w} {name}: median {row['median']:.5g} spread "
                  f"{row['spread']:.4f} (bound {m['bound']}, third "
                  f"{m['bound'] / 3:.4f})" + (
                      f" second worse by {row['second_worse_by']:+.4f}, "
                      f"agree={row['agree']}" if args.sets == 2 else ""),
                  flush=True)
        walls = [r["wall_s"] for s in sets for r in s]
        print(f"{w} wall per run: median {stats.median(walls):.1f} s, "
              f"max {max(walls):.1f} s", flush=True)
        out[w] = {"metrics": rows, "wall_s": walls}
        if args.traced:
            res, e2e = one_run(w, seeds[0], bench["run_seconds"], 1)
            over = {k: e2e[k] / rows[k]["median"] - 1 for k in e2e
                    if k in rows and rows[k]["median"]}
            out[w]["traced"] = {"per_layer": res["metrics"],
                                "end_to_end": e2e, "overhead": over}
            print(f"{w} tracing overhead (traced / untraced median - 1): " +
                  " ".join(f"{k}={v:+.3f}" for k, v in over.items()))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
