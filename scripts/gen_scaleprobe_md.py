"""Regenerate the scale-probe table in COVERAGE.md from SCALEPROBE.json.

Run: python scripts/gen_scaleprobe_md.py  (after scripts/scale_probe.py)

The table between the SCALEPROBE:BEGIN/END markers is generated, never
hand-edited — VERDICT r11 finding #1 was exactly the drift this removes
(the committed artifact said k-core 5.6 while the hand-written COVERAGE
prose said 4.02/3.62, because the prose predated the final probe
re-run). The artifact is the single source of truth; this script is the
only writer of the table.
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- SCALEPROBE:BEGIN (generated by scripts/gen_scaleprobe_md.py) -->"
END = "<!-- SCALEPROBE:END -->"


def render(art: dict) -> str:
    lines = [
        BEGIN,
        "",
        f"Artifact: `SCALEPROBE.json` — {art['method']}. "
        f"sf_dir `{art['sf_dir']}`, factors {art['factors']}. "
        "`spread@16x` = max/min across that row's recorded 16x repeats "
        "(the measured ambient-noise band for the ratio's numerator).",
        "",
        "| op | 1x | 4x | 16x | 4x/1x | 16x/1x | spread@16x | verdict |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for op in art["ops"]:
        sec = op["sec"]
        runs16 = op.get("runs_sec", {}).get("16")
        spread = (
            f"{max(runs16) / min(runs16):.2f}x/{len(runs16)}"
            if runs16 else "n/a"
        )
        lines.append(
            f"| {op['op']} | {sec['1']} s | {sec['4']} s | {sec['16']} s "
            f"| {op['ratio_4x']} | {op['ratio_16x']} | {spread} "
            f"| {op['verdict']} |"
        )
        if "rounds" in op:
            # A factor whose rounds_log stayed empty has no entry in
            # rounds/sec_per_round (scale_probe.py keeps only factors
            # with a record); render 'n/a' instead of crashing
            # regeneration.
            r, spr = op["rounds"], op["sec_per_round"]

            def cell(d: dict, k: str) -> str:
                return str(d.get(k, "n/a"))

            lines.append(
                f"| &nbsp;&nbsp;↳ rounds / sec-per-round "
                f"| {cell(r, '1')} / {cell(spr, '1')} "
                f"| {cell(r, '4')} / {cell(spr, '4')} "
                f"| {cell(r, '16')} / {cell(spr, '16')} | — | — | — | "
                "rounds pinned; ratio is per-round cost |"
            )
    lines += ["", END]
    return "\n".join(lines)


def main() -> None:
    with open(os.path.join(REPO, "SCALEPROBE.json")) as fh:
        art = json.load(fh)
    cov_path = os.path.join(REPO, "COVERAGE.md")
    with open(cov_path) as fh:
        cov = fh.read()
    pre, _, rest = cov.partition(BEGIN)
    if not rest:
        raise SystemExit(f"marker {BEGIN!r} not found in COVERAGE.md")
    _, _, post = rest.partition(END)
    if not post and not rest.endswith(END):
        raise SystemExit(f"marker {END!r} not found in COVERAGE.md")
    with open(cov_path, "w") as fh:
        fh.write(pre + render(art) + post)
    print("COVERAGE.md scale-probe table regenerated from SCALEPROBE.json")


if __name__ == "__main__":
    main()
