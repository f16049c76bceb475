"""Compare two sets of benchmark results, or report tracing overhead.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
    python3 perfbench/compare.py --overhead RESULTS_DIR

A result set is a directory of the JSON files ``run.py`` writes under
``perfbench/.work/results`` (untraced runs only are compared). For each
workload x end-to-end metric the tool prints both sets' medians and
quartiles, the change in median against the bound in ``BENCHMARK.json``,
and the pair-win rule: runs are paired by seed, and a gain is claimed
only when the change wins at least nine tenths of the pairs (ties count
for neither side) and the medians differ by more than the base set's
own interquartile spread.

Results are comparable only when they were measured in the same
environment (cores, Spark version and master, shuffle partitions, scale,
run length); the tool refuses otherwise.

``--overhead`` pairs traced and untraced runs of the same workload and
seed and prints the tracing overhead (traced ``pass_s`` minus untraced
``pass_s``) beside the share of the traced pass its top-level spans
account for.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402

ENV_KEYS_IGNORED = {"seed", "data_bytes", "ram_bytes"}


def load(path: str, trace: int) -> dict[str, dict[int, dict]]:
    """{workload: {seed: result}} for one result directory."""
    out: dict[str, dict[int, dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, f"*.trace{trace}.*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        out.setdefault(r["env"]["workload"], {})[r["env"]["seed"]] = r
    return out


def environment(results: dict[int, dict]) -> dict:
    envs = {
        json.dumps({k: v for k, v in r["env"].items() if k not in ENV_KEYS_IGNORED}, sort_keys=True)
        for r in results.values()
    }
    if len(envs) != 1:
        raise SystemExit(f"results within one set were measured in different environments: {envs}")
    return json.loads(envs.pop())


def pair_wins(base: dict[int, float], change: dict[int, float], lower_better: bool) -> tuple[int, int]:
    """(pairs the change wins, pairs compared) over seeds in both sets."""
    wins = n = 0
    for seed in sorted(set(base) & set(change)):
        b, c = base[seed], change[seed]
        n += 1
        if c != b and ((c < b) == lower_better):
            wins += 1
    return wins, n


def compare(base_dir: str, change_dir: str) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, change = load(base_dir, 0), load(change_dir, 0)
    status = 0
    for wl in sorted(set(base) | set(change)):
        if wl not in base or wl not in change:
            print(f"{wl}: only in {'base' if wl in base else 'change'} set, skipped")
            continue
        eb, ec = environment(base[wl]), environment(change[wl])
        if eb != ec:
            print(f"{wl}: refusing to compare, environments differ:\n  base   {eb}\n  change {ec}")
            status = 2
            continue
        print(f"== {wl}  ({len(base[wl])} base runs, {len(change[wl])} change runs; env {eb})")
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            bv = {s: r["metrics"][name] for s, r in base[wl].items()}
            cv = {s: r["metrics"][name] for s, r in change[wl].items()}
            bq1, bmed, bq3 = stats.quartiles(list(bv.values()))
            cq1, cmed, cq3 = stats.quartiles(list(cv.values()))
            delta = (cmed - bmed) / bmed if bmed else float("nan")
            worse = delta if lower else -delta
            within = worse <= m["bound"]
            wins, n = pair_wins(bv, cv, lower)
            gain = n > 0 and wins >= 0.9 * n and abs(cmed - bmed) > (bq3 - bq1) and not worse > 0
            print(
                f"  {name:12s} base {bmed:10.4g} [{bq1:.4g}, {bq3:.4g}]  "
                f"change {cmed:10.4g} [{cq1:.4g}, {cq3:.4g}] {m['unit']:3s} "
                f"{delta:+7.1%}  bound {m['bound']:.0%} {'ok' if within else 'REGRESSION'}  "
                f"wins {wins}/{n} {'GAIN' if gain else '-'}"
            )
            if not within:
                status = 1
    return status


def overhead(results_dir: str) -> int:
    plain, traced = load(results_dir, 0), load(results_dir, 1)
    for wl in sorted(set(plain) & set(traced)):
        seeds = sorted(set(plain[wl]) & set(traced[wl]))
        if not seeds:
            continue
        over = [
            traced[wl][s]["metrics"]["_per_layer"]["trace.pass_s"] - plain[wl][s]["metrics"]["pass_s"]
            for s in seeds
        ]
        cover = [
            traced[wl][s]["metrics"]["_per_layer"]["trace.top_spans_s"]
            / traced[wl][s]["metrics"]["_per_layer"]["trace.pass_s"]
            for s in seeds
        ]
        base = stats.median([plain[wl][s]["metrics"]["pass_s"] for s in seeds])
        print(
            f"{wl:14s} seeds {seeds}: tracing overhead {stats.median(over):+.3f} s "
            f"({stats.median(over) / base:+.1%} of untraced pass_s {base:.3f} s); "
            f"top-level spans cover {stats.median(cover):.1%} of the traced pass"
        )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dirs", nargs="+", help="BASE_DIR CHANGE_DIR, or RESULTS_DIR with --overhead")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    if a.overhead:
        return overhead(a.dirs[0])
    if len(a.dirs) != 2:
        ap.error("give a base and a change result directory")
    return compare(*a.dirs)


if __name__ == "__main__":
    sys.exit(main())
