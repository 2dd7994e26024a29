#!/usr/bin/env python3
"""Where did the time go? Roll up one traced benchmark artifact.

    python3 perfbench/rollup.py perfbench/results/relational-trace.json

Prints seconds by layer and by operator family, then flags every
execution whose layer self-times (see stats.self_times) miss its wall
time by more than TOLERANCE. Exits 1 when any execution is flagged.
The layers fill the wall by construction, so a flag means a measured
child outgrew its span; time no instrument measured shows as the span
self-times (build, plan_other, driver), whose share is printed.
Stdlib only.
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

TOLERANCE = 0.05  # largest |unattributed| / wall before a row is flagged


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("artifact")
    args = ap.parse_args()
    art = json.load(open(args.artifact))
    execs = [e for e in art["executions"] if e.get("traced")]
    if not execs:
        sys.exit(f"{args.artifact}: no traced executions (run with --trace 1)")
    prov = art["provenance"]
    print(f"{art['workload']}: {len(execs)} traced executions, seed {prov['seed']}, "
          f"{prov['task_threads']} task threads of {prov['nproc']}, heap {prov['heap']}, "
          f"scratch {prov['scratch_fs']}, load {prov['loadavg_before'][0]:.2f}"
          f"->{prov['loadavg_after'][0]:.2f}")

    by_pass = {}
    for e in execs:
        st = stats.self_times(e)
        acc = by_pass.setdefault(e["pass"], {k: 0.0 for k in stats.LAYERS + ("unattributed", "wall")})
        for k, v in st.items():
            acc[k] += v / 1e3
        acc["wall"] += e["wall_ms"] / 1e3
    print("\nseconds by layer (all traced executions of each pass kind)")
    cols = list(stats.LAYERS) + ["unattributed", "wall"]
    print(f"{'pass':<8}" + "".join(f"{c:>13}" for c in cols))
    for p, acc in sorted(by_pass.items()):
        print(f"{p:<8}" + "".join(f"{acc[c]:>13.3f}" for c in cols))
    wall = sum(acc["wall"] for acc in by_pass.values())
    own = sum(acc[k] for acc in by_pass.values() for k in stats.SPAN_SELF)
    print(f"span self-times ({', '.join(stats.SPAN_SELF)}): {own:.3f} s, "
          f"{own / wall:.0%} of traced wall")

    fams = {}
    for e in execs:
        f = fams.setdefault(e["family"], {"n": 0, "wall": 0.0, "exec": 0.0, "idle": 0.0})
        st = stats.self_times(e)
        f["n"] += 1
        f["wall"] += e["wall_ms"] / 1e3
        f["exec"] += st["exec"] / 1e3
        f["idle"] += (st["sched"] + st["driver"]) / 1e3
    print("\nseconds by operator family")
    print(f"{'family':<12}{'execs':>7}{'wall':>10}{'stages':>10}{'idle':>10}")
    for name, f in sorted(fams.items(), key=lambda kv: -kv[1]["wall"]):
        print(f"{name:<12}{f['n']:>7}{f['wall']:>10.3f}{f['exec']:>10.3f}{f['idle']:>10.3f}")

    flagged = []
    for e in execs:
        st = stats.self_times(e)
        if abs(st["unattributed"]) > TOLERANCE * e["wall_ms"]:
            flagged.append((e, st))
    print(f"\n{len(execs) - len(flagged)} of {len(execs)} executions add up to within "
          f"{TOLERANCE:.0%} of their wall time")
    for e, st in flagged:
        print(f"  FLAG {e['pass']}#{e['pass_idx']} {e['query']}: wall {e['wall_ms']:.1f} ms, "
              f"unattributed {st['unattributed']:.1f} ms")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
