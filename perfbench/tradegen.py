"""Seeded trade-envelope generator for the `trade_stream` workload.

Writes Finnhub-style JSON envelopes (`{"data": [{"p","s","t","v"}, ...]}`,
one per line, PER_LINE trades each) into LOGS append-only files
`log0..log<LOGS-1>`, the layout the `graftlog` source reads. This module
owns that layout: run.py passes LOGS and PER_LINE to the JVM side in
stream.json, and the JVM's lag accounting assumes the line order below.
Line i carries event time BASE_MS + i * EVENT_MS_PER_LINE, so event time
ascends with i; its trades come from a generator seeded by (seed, i), so
any line can be rebuilt from the seed alone.

    backlog(dir, seed, n): write lines [0, n), n divisible by LOGS, log k
        holding the k-th 1/LOGS of them. `graftlog` spends a line budget
        on logs in name order, so bounded drain batches then see event
        time ascend and the watermark never marks backlog lines late.
    live: append lines first+k, k in [0, lines_per_s*seconds), round-robin
        (line i to log i % LOGS), line first+k due at
        start_ms + k * 1000 / lines_per_s on the wall clock, then write
        {"lines", "late_max_ms"} to --stats
        python3 perfbench/tradegen.py --dir LOG --seed S --first N \
            --lines-per-s R --seconds T --start-ms MS --stats FILE
"""
import argparse
import json
import os
import time

import numpy as np

LOGS = 4
PER_LINE = 50
SYMBOLS = 4
BASE_MS = 1_704_067_200_000
EVENT_MS_PER_LINE = 300


def line(seed, i):
    rng = np.random.default_rng([seed, i])
    t0 = BASE_MS + i * EVENT_MS_PER_LINE
    sym = rng.integers(0, SYMBOLS, PER_LINE)
    price = np.round(rng.uniform(50.0, 150.0, PER_LINE), 2)
    vol = rng.integers(1, 101, PER_LINE)
    trades = ",".join(
        f'{{"p":{p},"s":"S{s}","t":{t0 + j},"v":{v}.0}}'
        for j, (p, s, v) in enumerate(zip(price.tolist(), sym.tolist(), vol.tolist())))
    return f'{{"data":[{trades}]}}\n'


def open_logs(d):
    os.makedirs(d, exist_ok=True)
    return [open(os.path.join(d, f"log{k}"), "a", encoding="utf-8") for k in range(LOGS)]


def backlog(d, seed, n):
    assert n % LOGS == 0, f"backlog lines must be divisible by {LOGS}"
    logs = open_logs(d)
    for i in range(n):
        logs[i * LOGS // n].write(line(seed, i))
    for f in logs:
        f.close()


def live(a):
    logs = open_logs(a.dir)
    n = int(a.lines_per_s * a.seconds)
    late_max = 0.0
    k = 0
    while k < n:
        now = time.time() * 1000
        due = a.start_ms + k * 1000.0 / a.lines_per_s
        if now < due:
            time.sleep(min(0.005, (due - now) / 1000))
            continue
        touched = set()
        while k < n and a.start_ms + k * 1000.0 / a.lines_per_s <= now:
            i = a.first + k
            logs[i % LOGS].write(line(a.seed, i))
            touched.add(i % LOGS)
            k += 1
        for j in touched:
            logs[j].flush()
        late_max = max(late_max, time.time() * 1000 - due)
    for f in logs:
        f.close()
    with open(a.stats, "w") as f:
        json.dump({"lines": n, "late_max_ms": late_max}, f)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Append live trade envelopes on a wall-clock schedule.")
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--lines-per-s", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start-ms", type=float, required=True)
    ap.add_argument("--stats", required=True)
    live(ap.parse_args())
