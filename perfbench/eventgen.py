"""Open-loop ad-event generator, run as its own single-threaded process.

    python3 perfbench/eventgen.py --out DIR --stage DIR --manifest FILE \
        --ckpt DIR --seed N --start EPOCH --time-scale X --warmup S \
        --warmup-rate FILES_PER_S --rate FILES_PER_S --events N --seconds S \
        --gap S --bursts N --burst-files N --burst-events N

Warm-up and live phases: `warmup x warmup_rate` files due at
`start + i / warmup_rate`; once they are all committed (read from the
stream's checkpoint, `--ckpt`) and `--gap` seconds more have passed,
`seconds x rate` files due at `live_start + j / rate`. Within a phase
the generator sleeps until the due time and never waits for the
consumer, so a stalled consumer faces a growing backlog instead of a
slower generator. Each file is written whole under `--stage` and renamed
into `--out` (the watched directory), so the file source never lists a
half-written file.

Burst phase: `--bursts` times, `--burst-files` files are staged first
and then renamed into `--out` back to back, the backlog a consumer finds
after an outage. Each burst lands `--gap` seconds after every file
landed so far is committed, so it always meets an idle stream. The
generator exits once the last burst is committed, with code 3 if any
drain takes longer than `DRAIN_TIMEOUT_S`.

Every event is the reference's ad-event record. Its `timestamp` is the
creation time on an event-time clock that runs `--time-scale` times
faster than wall time from `--start` (so a short run spans several
minute partitions and the watermark makes some of them due), minus up
to 3 s of jitter (inside the pipeline's 5 s watermark). A `uuid` starts
with the file's index in hex, so a reader can count rows per input file. The manifest (one JSON line per file: name,
phase, due, landed, events) is written when the generator exits.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timezone

import checkpoint_log

AD_TYPES = ("udxyt", "bnner", "vidpr", "nativ", "popup", "rwrdd", "srchx", "socal")
JITTER_MS = 3000
DRAIN_TIMEOUT_S = 60.0


def event_lines(rng: random.Random, seed: int, index: int, n: int, now_ms: int) -> str:
    out = []
    for e in range(n):
        ts = now_ms - rng.randrange(JITTER_MS)
        ad_type = rng.randrange(1000, 1000 + 8 * 100)
        rec = {
            "uuid": f"{index:08x}-{seed & 0xFFFF:04x}-4000-8000-{e:012x}",
            "date": datetime.fromtimestamp(ts / 1000, timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%S.%f"
            )[:-3]
            + "Z",
            "timestamp": ts,
            "ad_type": ad_type,
            "ad_type_name": AD_TYPES[ad_type % len(AD_TYPES)],
        }
        out.append(json.dumps(rec, separators=(",", ":")))
    return "\n".join(out) + "\n"


def stage_file(stage: str, rng: random.Random, seed: int, index: int, n: int, now_ms: int) -> str:
    name = f"ev-{index:06d}.json"
    with open(os.path.join(stage, name), "w", encoding="utf-8") as f:
        f.write(event_lines(rng, seed, index, n, now_ms))
    return name


def wait_committed(ckpt: str, names: list[str]) -> None:
    """Until every named file sits in a committed batch; exits with code 3
    when that takes longer than DRAIN_TIMEOUT_S (the stream is stuck)."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while not all(checkpoint_log.file_commits(ckpt).get(n) for n in names):
        if time.time() > deadline:
            sys.exit(f"eventgen: files not committed within {DRAIN_TIMEOUT_S:.0f} s")
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out", required=True)
    p.add_argument("--stage", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--ckpt", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--time-scale", type=float, required=True)
    p.add_argument("--rate", type=float, required=True)
    p.add_argument("--events", type=int, required=True)
    p.add_argument("--warmup", type=float, required=True)
    p.add_argument("--warmup-rate", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--gap", type=float, required=True)
    p.add_argument("--bursts", type=int, required=True)
    p.add_argument("--burst-files", type=int, required=True)
    p.add_argument("--burst-events", type=int, required=True)
    a = p.parse_args(argv)
    rng = random.Random(a.seed)
    os.makedirs(a.stage, exist_ok=True)
    manifest = []

    def event_now_ms() -> int:
        return int((a.start + (time.time() - a.start) * a.time_scale) * 1000)

    def scheduled(phase: str, first: int, n: int, start: float, rate: float) -> None:
        for i in range(first, first + n):
            due = start + (i - first) / rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = stage_file(a.stage, rng, a.seed, i, a.events, event_now_ms())
            os.replace(os.path.join(a.stage, name), os.path.join(a.out, name))
            manifest.append({"file": name, "phase": phase, "due": due, "landed": time.time(), "events": a.events})

    n_warm = int(a.warmup * a.warmup_rate)
    n_live = int(a.seconds * a.rate)
    scheduled("warmup", 0, n_warm, a.start, a.warmup_rate)
    wait_committed(a.ckpt, [m["file"] for m in manifest])
    time.sleep(a.gap)
    live_start = time.time()
    scheduled("live", n_warm, n_live, live_start, a.rate)
    time.sleep(max(live_start + a.seconds - time.time(), 0.0))
    index = n_warm + n_live
    for b in range(a.bursts + 1):
        wait_committed(a.ckpt, [m["file"] for m in manifest])
        if b == a.bursts:
            break
        time.sleep(a.gap)
        names = [
            stage_file(a.stage, rng, a.seed, index + j, a.burst_events, event_now_ms())
            for j in range(a.burst_files)
        ]
        index += a.burst_files
        due = time.time()
        for name in names:
            os.replace(os.path.join(a.stage, name), os.path.join(a.out, name))
            manifest.append(
                {"file": name, "phase": f"burst{b}", "due": due, "landed": time.time(), "events": a.burst_events}
            )

    with open(a.manifest, "w", encoding="utf-8") as f:
        f.writelines(json.dumps(m) + "\n" for m in manifest)


if __name__ == "__main__":
    main()
