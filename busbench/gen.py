"""Open-loop load generator: a process of its own that lands the
workload's files on a schedule that does not slow when the bus slows.

Protocol (one JSON object per line; commands on stdin, events on stdout):

* start-up: synthesize every slice from the seed, write the warm-up
  slice to ``<work>/stage/warm.parquet`` and the later slices as hidden
  files under ``<work>/stage/drain``; then ``{"ev": "staged"}``.
* ``{"cmd": "live", "landing": dir, "t0": epoch_s}``: slice *i* of the
  ``settle`` slices followed by the ``live`` ones is due at
  ``t0 + i * interval``.  Its rows carry that due time in
  ``due_ts``.  The file is written under a hidden ``.``-prefixed name
  just before it is due and renamed into place at the due time, so the
  bus never lists a partial file.  Replies ``{"ev": "live_done"}``.
* ``{"cmd": "land", "phase": p, "index": [i, ...] | null, "landing": dir}``:
  renames the staged slices of phase ``pre``, ``drain`` (the backlog) or
  ``maint`` into the landing directory at once.  Replies ``{"ev": "landed"}``.
* ``{"cmd": "exit"}``: writes ``<work>/ledger.json`` (every landed file
  with its phase, rows, due and landing times) and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402



def _with_due(table: pa.Table, due: float) -> pa.Table:
    ts = pa.array([int(due * 1e6)] * table.num_rows, pa.timestamp("us", tz="UTC"))
    return table.append_column("due_ts", ts)


def _sleep_until(t: float) -> None:
    while True:
        dt = t - time.time()
        if dt <= 0:
            return
        time.sleep(min(dt, 0.05) if dt > 0.002 else dt)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--live-seconds", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()

    inp = inputs.make(a.workload, a.seed, a.live_seconds, bool(a.trace))
    stage = os.path.join(a.work, "stage")
    os.makedirs(os.path.join(stage, "drain"))
    staged_at = time.time()
    (warm,) = inp.phase("warm")
    pq.write_table(_with_due(warm.table, staged_at), os.path.join(stage, "warm.parquet"))
    for s in inp.phase("pre") + inp.phase("drain") + inp.phase("maint"):
        pq.write_table(_with_due(s.table, staged_at),
                       os.path.join(stage, "drain", "." + s.name))
    ledger = [{"name": warm.name, "phase": "warm", "rows": warm.table.num_rows}]

    def say(ev: dict) -> None:
        sys.stdout.write(json.dumps(ev) + "\n")
        sys.stdout.flush()

    say({"ev": "staged"})
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "live":
            dt = inp.shape.interval_s
            for i, s in enumerate(inp.phase("settle") + inp.phase("live")):
                due = cmd["t0"] + i * dt
                # write the hidden file well before it is due
                _sleep_until(due - 0.6 * dt)
                hidden = os.path.join(cmd["landing"], "." + s.name)
                pq.write_table(_with_due(s.table, due), hidden)
                _sleep_until(due)
                os.replace(hidden, os.path.join(cmd["landing"], s.name))
                ledger.append({"name": s.name, "phase": s.phase,
                               "rows": s.table.num_rows, "due": due,
                               "landed": time.time()})
            say({"ev": "live_done"})
        elif cmd["cmd"] == "land":
            group = inp.phase(cmd["phase"])
            if cmd.get("index") is not None:
                group = [group[i] for i in cmd["index"]]
            t0 = time.time()
            for s in group:
                os.replace(os.path.join(stage, "drain", "." + s.name),
                           os.path.join(cmd["landing"], s.name))
                ledger.append({"name": s.name, "phase": s.phase,
                               "rows": s.table.num_rows, "due": t0,
                               "landed": time.time()})
            say({"ev": "landed"})
        elif cmd["cmd"] == "exit":
            break
    with open(os.path.join(a.work, "ledger.json"), "w") as fh:
        json.dump(ledger, fh)


if __name__ == "__main__":
    main()
