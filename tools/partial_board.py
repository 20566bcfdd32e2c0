#!/usr/bin/env python3
"""Reconstruct a Bench board JSON from a (possibly unfinished) run log.

Usage: python3 tools/partial_board.py <bench.log> <out.json> <sf_label>

Bench prints "[bench] done <query> <sec>" per query and writes the board
only at the end of the run; a run cut at a deadline (the r15 sf100 board)
still has every completed query's number in the log. This collects them
into the same {"queries": {...}} shape tools/slopes.py reads.
"""
import json, re, sys

log, out, sf = sys.argv[1], sys.argv[2], sys.argv[3]
qs = {}
for line in open(log, errors="replace"):
    m = re.search(r"\[bench\] done (\S+) ([0-9.]+)", line)
    if m and float(m.group(2)) >= 0:
        qs[m.group(1)] = float(m.group(2))
# ADVICE r15: a reconstructed board must not masquerade as an unstamped
# pre-r15 artifact — stamp window explicitly. When the log covers the
# four sf0.1 anchors we could recompute ratios, but partial boards are
# typically non-ledger SFs where anchor ratios are undefined; "n/a
# (partial)" states exactly what is known.
board = {"metric": "total", "value": sum(qs.values()), "unit": "sec",
         "queries": qs, "partial": True, "anchors": {},
         "window": "n/a (partial reconstruction)", "sf": sf}
json.dump(board, open(out, "w"), indent=None)
print(f"{len(qs)} queries, total {sum(qs.values()):.1f}s -> {out}")
