"""Alternating A/B pairs of the benchmark between two checkouts.

    python3 tools/ab_pairs.py --parent <dir> --change <dir> \
        --workload <etl|corpus> --seeds 11-20 [--seconds 6] [--out ab.json]

Each checkout (a `git clone` or `git archive` of the commit) builds and runs
its own `perfbench/run.py --trace 0`; both sides get the same seed, workload
and run length. Pair i runs seed i on both sides, the parent first on even
pairs and the change first on odd ones. For every end-to-end metric of
BENCHMARK.json it prints each side's median and quartiles and how many pairs
the change won (ties count for neither side), and whether the gain rule
holds: the change wins at least 9/10 of the pairs and the medians differ by
more than the parent's interquartile range. It then prints each side's
median of every op's p50 (the run's `# op <kind> ... p50=` lines), so a
gain can be put down to its op without a traced round. A run that fails or reports
correct=false is listed and its pair is left out of the statistics. Raw
per-run results go to --out when given. Nothing under perfbench/ or
BENCHMARK.json is changed.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path


def parse_seeds(text: str) -> list:
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


OP_LINE = re.compile(r"^# op (\S+)\s+n=\s*\d+\s+p50=\s*([0-9.]+) ms")


def run_one(checkout: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    done = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [l for l in done.stdout.splitlines() if l.startswith("{")]
    result = json.loads(lines[-1]) if lines else None
    ok = done.returncode == 0 and result is not None and result["correct"]
    return {"seed": seed, "ok": ok, "exit": done.returncode,
            "wall_s": round(time.time() - t0, 1),
            "metrics": {k: v["value"] for k, v in result["metrics"].items()}
            if result else {},
            "ops": {m.group(1): float(m.group(2))
                    for m in map(OP_LINE.match, done.stdout.splitlines()) if m},
            "stderr_tail": "" if ok else done.stderr[-2000:]}


def quartiles(xs: list) -> tuple:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,4,7-9")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--out", type=Path, default=None)
    a = ap.parse_args()

    spec = json.loads((a.change / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]
    seeds = parse_seeds(a.seeds)
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    for name, path in sides.items():  # build outside the timed pairs
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=path,
                       check=True, stdout=subprocess.DEVNULL)

    pairs = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for name in order:
            pair[name] = run_one(sides[name], a.workload, seed, seconds)
            r = pair[name]
            print(f"# pair {i + 1}/{len(seeds)} seed {seed} {name}: "
                  f"{'ok' if r['ok'] else 'FAILED exit %d' % r['exit']} "
                  f"({r['wall_s']} s)", flush=True)
        pairs.append(pair)
    if a.out:
        a.out.write_text(json.dumps({"workload": a.workload, "seconds": seconds,
                                     "pairs": pairs}, indent=1))

    good = [p for p in pairs if p["parent"]["ok"] and p["change"]["ok"]]
    bad = [p["seed"] for p in pairs if p not in good]
    print(f"workload {a.workload}, {seconds} s runs, {len(good)} of "
          f"{len(pairs)} pairs usable" + (f" (failed seeds: {bad})" if bad else ""))
    if not good:
        return 1
    print(f"{'metric':24} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
          f"{'wins':>7} {'gain rule':>9}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name] for p in good]
        chg = [p["change"]["metrics"][name] for p in good]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        gain = (wins >= 0.9 * len(good)
                and abs(cq[1] - pq[1]) > pq[2] - pq[0])
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{name:24} {fmt(pq):>30} {fmt(cq):>30} "
              f"{wins:>3}/{len(good):<3} {'holds' if gain else '-':>9}")
    print(f"{'op p50 (ms)':24} {'parent median':>30} {'change median':>30} {'wins':>7}")
    ops = sorted(set.intersection(*(set(p[side]["ops"]) for p in good
                                    for side in ("parent", "change"))))
    for op in ops:
        par = [p["parent"]["ops"][op] for p in good]
        chg = [p["change"]["ops"][op] for p in good]
        wins = sum(c < p for p, c in zip(par, chg))
        print(f"{op:24} {statistics.median(par):>30.1f} "
              f"{statistics.median(chg):>30.1f} {wins:>3}/{len(good):<3}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
