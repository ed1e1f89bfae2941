#!/usr/bin/env python3
"""Regenerate README.md's bench paragraph from a Bench record file.

Usage: python3 tools/bench_readme.py <record file, e.g. BENCH_LOCAL.json>

The single source of truth for the README's performance record is the
full JSON record Bench writes (BENCH_LOCAL.json by default). Its stdout
line lists only the slowest queries, so it is not read here. This script
rewrites everything between the BENCH:BEGIN/BENCH:END markers so the
narrative can never drift from the measurement.
"""
import json
import re
import sys
from pathlib import Path

README = Path(__file__).resolve().parent.parent / "README.md"


def main() -> None:
    b = json.loads(Path(sys.argv[1]).read_text())
    qs = b["queries"]
    failed = sorted(k for k, v in qs.items() if v < 0)
    ok = {k: v for k, v in qs.items() if v >= 0}
    total = sum(ok.values())
    top = sorted(ok.items(), key=lambda kv: -kv[1])[:5]
    top_s = ", ".join(f"{k.split('_')[0]} {v:.2f}s" for k, v in top)
    # label from the measurement itself — a hardcoded label would
    # silently mislabel a paragraph generated from a run at another
    # scale factor. Accepts a dir path (…/sf0.1) or a bare number (0.1).
    sf_label = str(b.get("sf", "?")).rstrip("/").rsplit("/", 1)[-1] or "?"
    if not sf_label.startswith("sf") and sf_label != "?":
        sf_label = "sf" + sf_label
    para = (
        f"{sf_label} bench at the driver's config (local[32], "
        f"shuffle.partitions=32, full-sweep untimed warmup at the timed "
        f"scale factor): **{total:.1f}s for {len(ok)} queries**. "
        f"Top-5 by cost: {top_s}."
    )
    if failed:
        para += f" FAILED (timed as -1): {', '.join(failed)}."
    para += (
        "\nThis paragraph is generated by `tools/bench_readme.py` from the "
        "bench JSON line — edit the measurement, not the prose."
    )
    text = README.read_text()
    new, n = re.subn(
        r"(<!-- BENCH:BEGIN -->).*?(<!-- BENCH:END -->)",
        lambda m: m.group(1) + "\n" + para + "\n" + m.group(2),
        text,
        flags=re.S,
    )
    if n != 1:
        raise SystemExit("README.md BENCH:BEGIN/END markers missing or duplicated")
    README.write_text(new)
    print(para)


if __name__ == "__main__":
    main()
