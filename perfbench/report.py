"""Where the time goes: a report from the traced runs' artifacts.

    python3 perfbench/report.py [ARTIFACT.json ...]

With no arguments it reads every artifact under .perfbench_work/results/.
For each traced artifact (trace 1), per workload and op class: the mean
wall time of an operation, each layer's self time and share (the span's
duration minus what its children cover; `unattributed` is the root's
own self time, which for a REST request is the HTTP/JSON transport:
client latency minus the dispatch span), whether those add up to the
wall time, and the Spark counters of the stages the operation started.
When an untraced artifact (trace 0) of the same workload and seed
exists, the tracing overhead is the traced minus the untraced
end-to-end median, as a share of the untraced one.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
from common import WORK_DIR  # noqa: E402

SPARK_COLS = ("jobs", "stages", "tasks", "executor_run_ms", "cpu_ms",
              "python_run_ms", "shuffle_write_bytes", "driver_ms")


def load(paths) -> list[dict]:
    if not paths:
        paths = sorted((WORK_DIR / "results").glob("*.json"))
    return [json.loads(Path(p).read_text()) for p in paths]


def overhead(traced: dict, untraced: dict) -> dict:
    """metric -> (traced - untraced) / untraced, for the latency medians."""
    out = {}
    for k in untraced["end_to_end"]:
        if not k.endswith("_ms"):
            continue
        t = traced["end_to_end"][k][0]
        u = untraced["end_to_end"][k][0]
        if u:
            out[k] = (t - u) / u
    return out


def render(artifacts: list[dict]) -> str:
    lines = []
    untraced = {(a["workload"], a["seed"]): a for a in artifacts
                if not a["trace"]}
    for a in artifacts:
        if not a["trace"]:
            continue
        lines.append(f"## {a['workload']} (seed {a['seed']}, "
                     f"{a['cpus']} cpus, canary {a['canary'][0]})")
        lines.append("")
        lines.append("| op | n | wall ms | layer self ms (share) | sum/wall |")
        lines.append("|---|---|---|---|---|")
        for op, cls in sorted(a["breakdown"].items()):
            wall = cls["wall_ms"]
            parts = sorted(cls["self_ms"].items(), key=lambda kv: -kv[1])
            cells = ", ".join(f"{k} {v:.1f} ({v / wall:.0%})"
                              for k, v in parts if wall)
            total = sum(cls["self_ms"].values())
            lines.append(f"| {op} | {cls['n']} | {wall:.1f} | {cells} | "
                         f"{total / wall if wall else 0:.3f} |")
        lines.append("")
        lines.append("| op | " + " | ".join(SPARK_COLS) + " |")
        lines.append("|---|" + "---|" * len(SPARK_COLS))
        for op, cls in sorted(a["breakdown"].items()):
            sp = cls["spark"]
            lines.append(f"| {op} | " + " | ".join(
                f"{sp.get(c, 0.0):.1f}" for c in SPARK_COLS) + " |")
        base = untraced.get((a["workload"], a["seed"]))
        if base is not None:
            oh = overhead(a, base)
            lines.append("")
            lines.append("tracing overhead (traced vs untraced median, "
                         "same seed): " + ", ".join(
                             f"{k} {v:+.1%}" for k, v in oh.items()))
        lines.append("")
    return "\n".join(lines)


def main(argv) -> int:
    arts = load(argv[1:])
    if not any(a["trace"] for a in arts):
        print("no traced artifact (run with --trace 1 first)",
              file=sys.stderr)
        return 1
    print(render(arts))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
