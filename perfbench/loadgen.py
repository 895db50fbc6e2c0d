"""Open-loop load generator, run as its own process.

    python3 loadgen.py --kind absa|window --seed N --out DIR --log FILE
                       --first-event E --rates LO HI --seconds LO HI

Runs phase `lo` at LO rows/s, then phase `hi` at HI rows/s, for the given
seconds each, in ticks of TICK_S. Builds every tick's payload, prints
`ready`, waits for `go` on stdin, prints `start <epoch>`, then writes one
parquet file per tick on a fixed schedule (write, then rename, so the stream
never lists a partial file). It never waits for the consumer: a tick that is
due is written, however far behind the stream is. Each tick's due and done
times are kept in memory and written to the log at exit; the benchmark
measures latency from the due time, so a stall counts against every event
due during it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import gen

TICK_S = 0.1


def payloads(args) -> list[tuple[str, int, object]]:
    texts = None
    if args.kind == "absa":
        texts = gen.review_texts(args.seed)
    ticks = []
    event = args.first_event
    for name, rate, seconds in zip(("lo", "hi"), args.rates, args.seconds):
        per_tick = round(rate * TICK_S)
        for _ in range(round(seconds / TICK_S)):
            if texts is not None:
                body = gen.review_envelopes(args.seed, texts, event, per_tick)
            else:
                body = gen.click_events(args.seed, gen.N_USERS, event, per_tick)
            ticks.append((name, event, body))
            event += per_tick
    return ticks


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--kind", choices=("absa", "window"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--first-event", type=int, required=True)
    ap.add_argument("--rates", type=float, nargs=2, required=True)
    ap.add_argument("--seconds", type=float, nargs=2, required=True)
    args = ap.parse_args(argv)

    ticks = payloads(args)
    print("ready", flush=True)
    if sys.stdin.readline().strip() != "go":
        return 1
    t0 = time.time() + 0.05
    print(f"start {t0!r}", flush=True)
    log = []
    for k, (phase, first_event, body) in enumerate(ticks):
        due = t0 + k * TICK_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if args.kind == "window":
            events, late_us = body
            body = gen.stamp(events, late_us, int(due * 1e6))
        name = f"t{k:06d}.parquet"
        gen.write_file(body, os.path.join(args.out, name))
        log.append({"file": name, "phase": phase, "rows": body.num_rows,
                    "first_event": first_event, "due": due, "done": time.time()})
    with open(args.log, "w") as f:
        json.dump(log, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
