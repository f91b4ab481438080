"""Open-loop Debezium-envelope generator for the CDC workloads.

Runs as its own process (``python3 perfbench/gen.py <spec.json>``) so that
building events never competes with the engine's driver for the
interpreter lock. Event ``i`` is due at ``t0 + i / rate``; the events are
grouped ``per_file`` to a JSON-lines file, which is written ahead in a
staging directory and renamed into the source directory once its last
event is due, so the engine never lists a half-written file. Each line is
the engine's own Debezium envelope (``sources.changelog._envelope``)
wrapped as a Kafka record; run from the repository root. The schedule
does not wait for the engine: a slow engine meets a growing backlog.

Warm-up is counted in committed micro-batches, not seconds: the timed
phase starts with the first file written after ``warmup_marker`` (the
commit of the last warm-up batch) exists, or after ``max_warmup_s`` of
events if the engine is slower than that, and lasts ``timed_events``
events. The engine's batch walls keep falling while its JIT warms, so a
warm-up of fixed length would leave a slow run fewer warm batches and
measure it further up that slope.

The generator starts from the bootstrapped store (``order_id`` in
``[0, store_rows)``, ``invoice_number = 7 * order_id``) and tracks the
replica the engine must reach. At exit it writes

* ``expected.npy``: the expected ``invoice_number`` per key, -1 where the
  key is absent;
* ``schedule.json``: per file its name, first event, event count and
  rename time, the first timed event, and how late the generator ran
  against its own schedule.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import numpy as np

sys.path.insert(0, os.getcwd())
from simple_cdc_service_spark.sources.changelog import _envelope  # noqa: E402

ABSENT = -1


def store_values(store_rows: int) -> np.ndarray:
    """``invoice_number`` per key of the bootstrapped store."""
    return np.arange(store_rows, dtype=np.int64) * 7


def hot_range(rng: random.Random, spec: dict) -> tuple[int, int]:
    """``[lo, lo + hot_keys)`` in the first half of one bootstrap file's
    key range (``file_key_ranges`` from the bootstrap manifest). The hot
    keys fall inside a single file of the store, and stay inside one file
    when the merge splits that file at its middle."""
    fmin, fmax = rng.choice(spec["file_key_ranges"])
    lo = fmin + (fmax - fmin) // 10
    return lo, lo + spec["hot_keys"]


def _row(key: int, value: int) -> dict | None:
    return None if value == ABSENT else {"order_id": key, "invoice_number": value}


def next_event(rng: random.Random, vals: np.ndarray, lo: int, hi: int):
    """One change on a key drawn from ``[lo, hi)``, with the op mix of the
    engine's own seeded generator (``generate_envelopes`` without
    truncates or key changes): on a present key 35% update, 20% delete,
    otherwise update; on an absent key an insert of ``invoice_number =
    order_id``. Applies the change to ``vals``; returns ``(op, key,
    before, after)`` values."""
    k = rng.randrange(lo, hi)
    roll = rng.random()
    before = int(vals[k])
    if before == ABSENT:
        op, after = "c", k
    elif roll < 0.35:
        op, after = "u", before + 1
    elif roll < 0.55:
        op, after = "d", ABSENT
    else:
        op, after = "u", before + 1
    vals[k] = after
    return op, k, before, after


def _line(i: int, op: str, key: int, before: int, after: int, ts_ms: int) -> str:
    """One Kafka-shaped JSON line (offset, timestamp, value) whose value is
    the engine's Debezium envelope; the binlog position orders events by
    index."""
    env = _envelope(op, _row(key, before), _row(key, after), 100 + 10 * i, ts_ms)
    return json.dumps({"offset": i, "timestamp": ts_ms, "value": json.dumps(env)})


def run(spec: dict) -> None:
    rng = random.Random(spec["seed"])
    vals = store_values(spec["store_rows"])
    if spec["keys"] == "hot":
        lo, hi = hot_range(rng, spec)
    else:
        lo, hi = 0, spec["store_rows"]
    rate, per_file = spec["rate"], spec["per_file"]
    t0 = time.time() + 0.2
    max_warm = int(spec["max_warmup_s"] * rate)
    n_events = max_warm + spec["timed_events"]
    timed_first = None
    os.makedirs(spec["staging"], exist_ok=True)
    files, lateness = [], []
    for first in range(0, n_events, per_file):
        if timed_first is None and (
            first >= max_warm or os.path.exists(spec["warmup_marker"])
        ):
            timed_first = first
            n_events = first + spec["timed_events"]
            with open(os.path.join(spec["out"], "timed.json"), "w") as f:
                json.dump({"first": first}, f)
        if first >= n_events:
            break
        n = min(per_file, n_events - first)
        lines = []
        for i in range(first, first + n):
            op, k, before, after = next_event(rng, vals, lo, hi)
            lines.append(_line(i, op, k, before, after, int((t0 + i / rate) * 1000)))
        name = f"e{first:09d}.json"
        staged = os.path.join(spec["staging"], name)
        with open(staged, "w") as f:
            f.write("\n".join(lines) + "\n")
        due = t0 + (first + n - 1) / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.replace(staged, os.path.join(spec["src"], name))
        renamed = time.time()
        lateness.append(renamed - due)
        files.append({"name": name, "first": first, "n": n, "renamed": renamed})
    np.save(os.path.join(spec["out"], "expected.npy"), vals)
    lat = sorted(lateness)
    with open(os.path.join(spec["out"], "schedule.json"), "w") as f:
        json.dump(
            {
                "t0": t0,
                "rate": rate,
                "key_range": [lo, hi],
                "timed_first": timed_first,
                "files": files,
                "lateness_p99_s": lat[min(len(lat) - 1, int(0.99 * len(lat)))],
                "lateness_max_s": lat[-1],
            },
            f,
        )


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        run(json.load(fh))
