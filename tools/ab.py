"""Interleaved A/B of the repository benchmark: a base revision against
the working tree.

    python3 tools/ab.py --base HEAD~1 --pairs 5

For each workload in ``BENCHMARK.json`` and each pair i = 1..N it runs

    python3 perfbench/run.py --workload W --seed i --seconds S --trace 0

once in a copy of the base revision and once in a copy of the working
tree, never both at once, with the base first on odd pairs and the head
first on even ones.  ``S`` is ``BENCHMARK.json``'s ``run_seconds``.
Both copies are fresh temporary directories, removed at the end: the
revision's committed files (``git archive``) and the working tree's
tracked and unignored files, so neither side starts with cached inputs
or build leftovers the other lacks.  Each run's parsed last stdout
line goes to stderr as it finishes; stdout gets, per workload and
end-to-end metric, the two medians, the base IQR, the head's pair wins,
each side's ``failed`` total and a verdict (see ``summarize``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``checkout`` → its last stdout line."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} in {checkout} exited "
                           f"{proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def _iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q3 - q1


def summarize(records: list[dict], metrics: list[dict]) -> list[dict]:
    """Records ``{"side": "base"|"head", "pair": i, "result": <run line>}``
    of one workload → one row per end-to-end metric (``metrics`` as in
    ``BENCHMARK.json``).  ``worse`` is the head median's relative change
    in the metric's worse direction, to compare with its ``bound``;
    ``wins`` counts pairs where the head is strictly better.  ``verdict``
    is ``unresolved`` when the base runs spread wider than the bound
    (IQR > bound × base median) unless every head run beats every base
    run, else ``worse`` when ``worse`` is past the bound, else ``ok``."""
    by_side: dict[str, dict[int, dict]] = {"base": {}, "head": {}}
    for r in records:
        by_side[r["side"]][r["pair"]] = r["result"]
    pairs = sorted(set(by_side["base"]) & set(by_side["head"]))
    failed = {side: sum(res["failed"] for res in runs.values())
              for side, runs in by_side.items()}
    rows = []
    for m in metrics:
        name, sign = m["name"], 1.0 if m["better"] == "lower" else -1.0
        vals = {side: [runs[p]["metrics"][name]["value"] for p in pairs]
                for side, runs in by_side.items()}
        base, head = (statistics.median(vals[s]) if pairs else 0.0
                      for s in ("base", "head"))
        base_iqr, bound = _iqr(vals["base"]), m["bound"]
        worse = sign * (head - base) / base if base else 0.0
        if (base_iqr > bound * abs(base)
                and max(sign * h for h in vals["head"]) >= min(sign * b for b in vals["base"])):
            verdict = "unresolved"
        else:
            verdict = "worse" if worse > bound else "ok"
        rows.append({
            "metric": name, "base": base, "head": head, "base_iqr": base_iqr,
            "worse": worse, "bound": bound,
            "wins": sum(sign * (h - b) < 0 for b, h in zip(vals["base"], vals["head"])),
            "pairs": len(pairs),
            "failed_base": failed["base"], "failed_head": failed["head"],
            "verdict": verdict,
        })
    return rows


def format_rows(workload: str, rows: list[dict]) -> str:
    out = [f"{workload}: {'metric':<18}{'base':>11}{'head':>11}{'base IQR':>11}"
           f"{'worse':>8}{'bound':>7}{'wins':>7}{'failed b/h':>12}  verdict"]
    for r in rows:
        out.append(
            f"{'':{len(workload) + 2}}{r['metric']:<18}{r['base']:>11.4g}{r['head']:>11.4g}"
            f"{r['base_iqr']:>11.4g}{r['worse']:>+8.1%}{r['bound']:>7.2f}"
            f"{r['wins']:>4}/{r['pairs']:<2}{r['failed_base']:>6}/{r['failed_head']:<5}"
            f"{r['verdict']}")
    return "\n".join(out)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD", help="git revision to compare against")
    ap.add_argument("--pairs", type=int, default=5)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # a SIGTERM unwinds like Ctrl-C: the running benchmark is killed and
    # the copies are removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        checkouts = {side: os.path.join(tmp, side) for side in ("base", "head")}
        archive = subprocess.run(["git", "archive", args.base], cwd=ROOT,
                                 capture_output=True, check=True).stdout
        os.makedirs(checkouts["base"])
        subprocess.run(["tar", "-x", "-C", checkouts["base"]], input=archive, check=True)
        files = subprocess.run(["git", "ls-files", "-z", "-co", "--exclude-standard"],
                               cwd=ROOT, capture_output=True, check=True, text=True)
        for rel in filter(None, files.stdout.split("\0")):
            if os.path.isfile(os.path.join(ROOT, rel)):  # skip tracked files deleted here
                dst = os.path.join(checkouts["head"], rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy2(os.path.join(ROOT, rel), dst)
        for w in [w["name"] for w in bench["workloads"]]:
            records = []
            for i in range(1, args.pairs + 1):
                for side in ("base", "head") if i % 2 else ("head", "base"):
                    res = run_once(checkouts[side], w, i, bench["run_seconds"])
                    records.append({"side": side, "pair": i, "result": res})
                    print(json.dumps({"workload": w, **records[-1]}), file=sys.stderr,
                          flush=True)
            print(format_rows(w, summarize(records, bench["end_to_end"])), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
