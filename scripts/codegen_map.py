#!/usr/bin/env python3
"""Map Spark's whole-stage-codegen compiles onto the calls of a traced
`cdcbench` run.

    JAVA_TOOL_OPTIONS=-Dlog4j2.configurationFile=scripts/codegen-log4j2.properties \\
      python3 cdcbench/run.py --workload feed_consumers --seed 3 --seconds 15 --trace 1
    python3 scripts/codegen_map.py .bench_out/feed_consumers-seed3-trace1.log \\
      .bench_out/feed_consumers-seed3-spans.json [--detail]

The properties file logs every class Spark compiles (CodeGenerator at
DEBUG: the source, then an INFO line with the Janino time), with epoch
milliseconds and the thread. Each compile is placed in the timed call
(`apply`, `sync`, ...) whose span holds its start, and on the side that
compiled it: `executor` for task threads, `driver` for every other
thread. Spark caches a class under (class loader, source), and the two
sides use different loaders, so the distinct (source, side) pairs are
the entries the run put into the codegen cache.

Prints compiles and Janino ms per cycle by call and side, the distinct
(source, side) pairs each cycle compiled, the mean per cycle by call,
and the distinct (source, side) count over the whole run and over the
timed cycles. Run with `-Dspark.sql.codegen.cache.maxEntries=1` added to
`JAVA_TOOL_OPTIONS`, every class a cycle needs is compiled in it, so its
distinct count is the cycle's working set. `--detail` lists every
compile of the last cycle with its class, size and thread.
"""

import argparse
import hashlib
import json
import re
import sys
from collections import defaultdict

HEAD = re.compile(r"^(\d{13}) \[([^\]]*)\] (\w+) (\S+): ?(.*)$")
DONE = re.compile(r"Code generated in ([\d.]+) ms")
CLASS = re.compile(r"return new (\w+)\(")


def side(thread):
    return "executor" if thread.startswith("Executor task launch worker") else "driver"


def records(path):
    """(ms, thread, level, logger, text) per log event; continuation
    lines belong to the event above them."""
    cur = None
    with open(path, errors="replace") as f:
        for line in f:
            m = HEAD.match(line)
            if m:
                if cur:
                    yield cur
                cur = [int(m[1]), m[2], m[3], m[4], m[5] + "\n"]
            elif cur:
                cur[4] += line
    if cur:
        yield cur


def compiles(path):
    """One dict per compile: start ms, thread, side, Janino ms, source
    hash, generated class name and source size."""
    pending = {}
    out = []
    for ms, thread, level, logger, text in records(path):
        if not logger.endswith("CodeGenerator"):
            continue
        if level == "DEBUG":
            pending[thread] = (ms, text)
        elif level == "INFO":
            d = DONE.search(text)
            if d and thread in pending:
                start, src = pending.pop(thread)
                c = CLASS.search(src)
                out.append({"ms": start, "thread": thread, "side": side(thread),
                            "janino_ms": float(d[1]),
                            "src": hashlib.sha1(src.encode()).hexdigest(),
                            "cls": c[1] if c else "?", "bytes": len(src)})
    if not out:
        sys.exit("no compiles in the log: was it written with the codegen properties file?")
    return out


def load_spans(path):
    spans = json.load(open(path))
    rounds = [s for s in spans if s["parent"] == 0 and s["name"] == "round"]
    calls = [s for s in spans if s["parent"] in {r["id"] for r in rounds}]
    return rounds, calls


def place(c, rounds, calls):
    """(cycle number from 1, call name) of a compile, None outside the
    timed cycles."""
    for i, r in enumerate(rounds):
        if r["start_ms"] <= c["ms"] <= r["end_ms"]:
            for s in calls:
                if s["parent"] == r["id"] and s["start_ms"] <= c["ms"] <= s["end_ms"]:
                    return i + 1, s["name"]
            return i + 1, "between calls"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("log")
    ap.add_argument("spans")
    ap.add_argument("--detail", action="store_true")
    a = ap.parse_args()
    cs = compiles(a.log)
    rounds, calls = load_spans(a.spans)
    names = [n for n in dict.fromkeys(s["name"] for s in calls)] + ["between calls"]
    cells = defaultdict(lambda: [0, 0.0])
    distinct = defaultdict(set)
    timed = []
    for c in cs:
        p = place(c, rounds, calls)
        if p:
            timed.append((p, c))
            distinct[p[0]].add((c["src"], c["side"]))
            for key in ((p[0], p[1], c["side"]), (p[0], "all", "all"), (None, p[1], "all")):
                cells[key][0] += 1
                cells[key][1] += c["janino_ms"]

    print(f"{'cycle':>5} {'call':<14} {'side':<9} {'compiles':>8} {'janino_ms':>10} {'distinct':>8}")
    for i in range(1, len(rounds) + 1):
        for n in names:
            for sd in ("driver", "executor"):
                k, ms = cells.get((i, n, sd), (0, 0.0))
                if k:
                    print(f"{i:>5} {n:<14} {sd:<9} {k:>8} {ms:>10.1f}")
        k, ms = cells.get((i, "all", "all"), (0, 0.0))
        print(f"{i:>5} {'(cycle)':<14} {'':<9} {k:>8} {ms:>10.1f} {len(distinct[i]):>8}")
    n = max(1, len(rounds))
    print(f"\nper cycle, mean of {len(rounds)}:")
    for name in names:
        k, ms = cells.get((None, name, "all"), (0, 0.0))
        if k:
            print(f"  {name:<14} {k / n:>6.1f} compiles {ms / n:>8.1f} ms")
    total = sum(cells.get((i, "all", "all"), (0, 0.0))[0] for i in range(1, n + 1))
    total_ms = sum(cells.get((i, "all", "all"), (0, 0.0))[1] for i in range(1, n + 1))
    print(f"  {'(cycle)':<14} {total / n:>6.1f} compiles {total_ms / n:>8.1f} ms")
    print(f"\ndistinct (source, side): {len({(c['src'], c['side']) for c in cs})} over the run "
          f"({len(cs)} compiles), {len({(c['src'], c['side']) for _, c in timed})} in the timed cycles")
    if a.detail and rounds:
        print(f"\ncompiles of cycle {len(rounds)}:")
        for (i, name), c in timed:
            if i == len(rounds):
                print(f"  {name:<14} {c['side']:<9} {c['cls']:<36} {c['bytes']:>7} B "
                      f"{c['janino_ms']:>7.1f} ms  {c['src'][:10]}  [{c['thread']}]")


if __name__ == "__main__":
    main()
