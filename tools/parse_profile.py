"""Summarize a tools/profile_query.py log: per query, total job time,
job count, and the slowest jobs/stages. Reads the log file given as
argv[1]. Lines before each '=== name: X s (warm) ===' marker belong to
that query (the marker prints after its timed run).

AQE map-stage jobs don't emit 'Job N finished' lines, so stage
'finished in N ms' lines are aggregated too (the r14 caveat).
"""

from __future__ import annotations

import re
import sys


def _seconds(value: str, unit: str) -> float:
    return float(value) / 1000.0 if unit == "ms" else float(value)


def parse_line(ln: str) -> tuple[str, float, str] | None:
    """("job" | "stage", seconds, label) for a DAGScheduler finish line,
    else None. Both line kinds print their duration in s or ms."""
    jm = re.search(r"Job (\d+) finished: (.*), took ([\d.]+) (m?s)", ln)
    if jm:
        return "job", _seconds(jm.group(3), jm.group(4)), f"job{jm.group(1)} {jm.group(2)[:60]}"
    sm = re.search(
        r"(ShuffleMapStage|ResultStage) (\d+) \((.*)\) finished in ([\d.]+) (m?s)", ln
    )
    if sm:
        return (
            "stage",
            _seconds(sm.group(4), sm.group(5)),
            f"{sm.group(1)[:8]}{sm.group(2)} {sm.group(3)[:55]}",
        )
    return None


def main() -> None:
    path = sys.argv[1]
    sections: list[tuple[str, float, list[str]]] = []
    buf: list[str] = []
    for ln in open(path, errors="replace"):
        m = re.match(r"=== (\S+): ([\d.]+) s \(warm\) ===", ln.strip())
        if m:
            sections.append((m.group(1), float(m.group(2)), buf))
            buf = []
        else:
            buf.append(ln)

    for name, wall, lines in sections:
        jobs: list[tuple[float, str]] = []
        stages: list[tuple[float, str]] = []
        for ln in lines:
            timed = parse_line(ln)
            if timed is not None:
                kind, secs, label = timed
                (jobs if kind == "job" else stages).append((secs, label))
        jt = sum(s for s, _ in jobs)
        st = sum(s for s, _ in stages)
        print(f"\n=== {name}: wall {wall:.2f}s | {len(jobs)} jobs "
              f"{jt:.2f}s | {len(stages)} stages {st:.2f}s | "
              f"wall-job gap {wall - jt:.2f}s")
        for s, d in sorted(jobs, reverse=True)[:8]:
            print(f"  job   {s:6.3f}s {d}")
        for s, d in sorted(stages, reverse=True)[:10]:
            print(f"  stage {s:6.3f}s {d}")


if __name__ == "__main__":
    main()
