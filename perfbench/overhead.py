"""Tracing overhead: traced minus untraced end-to-end figures.

    python3 perfbench/run.py --workload W --seed 1 --seconds 18 --trace 0 > untraced.out
    python3 perfbench/run.py --workload W --seed 1 --seconds 18 --trace 1 > traced.out
    python3 perfbench/overhead.py untraced.out traced.out

Reads the JSON result line (the last stdout line) of each run and
prints, per end-to-end metric, the untraced value, the traced value
(``traced.<metric>``) and their difference.
"""

from __future__ import annotations

import json
import sys


def _metrics(path: str) -> dict[str, float]:
    with open(path) as fh:
        last = fh.read().strip().splitlines()[-1]
    return {k: v["value"] for k, v in json.loads(last)["metrics"].items()}


def main(untraced: str, traced: str) -> None:
    base, tr = _metrics(untraced), _metrics(traced)
    for name, value in base.items():
        t = tr.get(f"traced.{name}")
        if t is None:
            continue
        share = (t - value) / value if value else float("nan")
        print(f"{name:22s} untraced {value:12.4f}  traced {t:12.4f}  overhead {t - value:+.4f} ({share:+.1%})")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
