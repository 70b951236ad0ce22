#!/usr/bin/env python3
"""Open-loop event generator of the stream_live workload.

Writes newline-delimited JSON event files into --out on a fixed schedule
that does not slow down when the consumer does. The schedule is a list of
phases `name:rate:seconds`; phase p emits exactly rate*seconds events, evenly
spaced, right after phase p-1. Every --tick-ms the generator writes the
events that have come due into one file (written under a hidden name, then
renamed, so the file source never sees a partial file).

Event k of the schedule has event_id --first-id + k. Its user_id and value are drawn, under --seed, from
the fixture's events table. Its ts_us is the time it was due, which is also
its creation stamp: latency is measured from when an event was due, so a
stalled generator shows as latency rather than hiding it.

At the end it writes --manifest: the schedule start, the phases and how late
the file writes ran behind their ticks.
"""
import argparse
import json
import os
import random
import time

import pyarrow.parquet as pq


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--phases", required=True)
    ap.add_argument("--tick-ms", type=int, required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--first-id", type=int, default=0)
    ap.add_argument("--prefix", default="ev")
    a = ap.parse_args()

    t = pq.read_table(a.events, columns=["user_id", "value"])
    users = t.column("user_id").to_pylist()
    values = t.column("value").to_pylist()
    rng = random.Random(a.seed)

    phases = []
    due = []  # due time of event k, in seconds after the schedule start
    for spec in a.phases.split(","):
        name, rate, secs = spec.split(":")
        rate, secs = int(rate), int(secs)
        start = phases[-1]["end_s"] if phases else 0.0
        n = rate * secs
        phases.append({"name": name, "rate": rate, "start_s": start, "end_s": start + secs,
                       "first_id": a.first_id + len(due), "n": n})
        due.extend(start + i / rate for i in range(n))
    picks = [rng.randrange(len(users)) for _ in due]

    t0 = time.time() + 0.05
    tick = a.tick_ms / 1000.0
    k, files, late = 0, 0, []
    while k < len(due):
        next_tick = t0 + (files + 1) * tick
        time.sleep(max(0.0, next_tick - time.time()))
        now = time.time()
        lines = []
        while k < len(due) and t0 + due[k] <= now:
            i = picks[k]
            lines.append(json.dumps({"event_id": a.first_id + k, "user_id": users[i],
                                     "ts_us": int((t0 + due[k]) * 1e6), "value": values[i]}))
            k += 1
        files += 1
        if not lines:
            continue
        tmp = os.path.join(a.out, f".{a.prefix}-{files:06d}.json.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(a.out, f"{a.prefix}-{files:06d}.json"))
        late.append((time.time() - next_tick) * 1000.0)

    late.sort()
    with open(a.manifest, "w") as f:
        json.dump({"t0_us": int(t0 * 1e6), "phases": phases, "events": len(due),
                   "files": sum(1 for n in os.listdir(a.out) if n.startswith(a.prefix + "-")),
                   "late_ms_p50": late[len(late) // 2] if late else 0.0,
                   "late_ms_max": late[-1] if late else 0.0}, f)


if __name__ == "__main__":
    main()
