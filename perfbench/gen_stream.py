"""Seeded open-loop transaction generator for the `txn_stream` workload.

It runs as its own process, apart from the engine JVM, and writes
JSON-lines drops into the source directory the streaming query watches.
Every drop is written to a temp directory and renamed into place, so the
source never sees a partial file.

Two phases:
  backlog  `stage` pre-writes the backlog files into <work>/stage (and
           the live drops, with the creation time left open, into
           <work>/live). `run` renames the backlog files into <work>/in
           once the engine reports `ready`; that instant is the first
           backlog drop.
  live     after the engine reports `caughtup`, one drop every DROP_MS at
           a fixed event rate, on a fixed schedule that does not wait
           for the engine. Each event carries its scheduled creation time
           (metadata.created_ms). The generator records how late each
           drop was written.

Event content depends only on the seed and the sizes, never on timing:
  - transaction ids are unique; reference_id ("E<n>") keys every event,
    including the invalid ones with a null transaction_id;
  - INVALID_SHARE of events are invalid (null transaction_id, null
    account_id, zero or negative amount) and belong in the dead-letter
    sink;
  - event time follows a per-event clock with +-JITTER_S out-of-order
    noise, well inside the 30 min watermark; LATE_SHARE of live events
    are LATE_S behind the clock, far beyond it, so they are dropped by
    the windowed aggregate however the triggers split the input;
  - accounts are skewed (index = N_ACCOUNTS * u**2) over enough keys that
    one event-hour of backlog holds >1e5 distinct (window, account)
    state rows.

Usage (sizes: --backlog-events --backlog-files --backlog-hours --rate
--drop-ms --live-seconds --wall-s-per-event-hour):
  gen_stream.py stage --work DIR --seed N <sizes> [--catchup-only]
  gen_stream.py run   --work DIR --seed N <sizes> [--catchup-only]
"""
import argparse
import json
import os
import sys
import time

import numpy as np

BASE_EPOCH_S = 1_704_067_200          # 2024-01-01T00:00:00Z
N_ACCOUNTS = 1_000_000
INVALID_SHARE = 0.02
LATE_SHARE = 0.005
JITTER_S = 600
LATE_S = 6 * 3600
TYPES = ["deposit", "withdrawal", "transfer", "payment", "refund"]
AMOUNT_RANGE = {"deposit": (50, 5000), "withdrawal": (20, 1000),
                "transfer": (10, 3000), "payment": (5, 500), "refund": (5, 200)}
SOURCES = ["mobile_app", "web_banking", "branch", "atm", "merchant_pos"]
MERCHANTS = ["Amazon", "Walmart", "Target", "Costco", "Starbucks", "Shell"]


def add_size_args(ap):
    """The sizes; run.py passes all of them (STREAM there)."""
    for name, kind in (("backlog-events", int), ("backlog-files", int),
                       ("backlog-hours", float), ("rate", int), ("drop-ms", int),
                       ("live-seconds", float), ("wall-s-per-event-hour", float)):
        ap.add_argument("--" + name, type=kind, required=True)


def sizes(a):
    per_drop = a.rate * a.drop_ms // 1000
    n_drops = 0 if a.catchup_only else int(a.live_seconds * 1000 // a.drop_ms)
    return per_drop, n_drops, a.backlog_events + per_drop * n_drops


def make_events(a):
    """Every event of the run as numpy columns, in generation order."""
    per_drop, n_drops, n = sizes(a)
    nb = a.backlog_events
    rng = np.random.default_rng(a.seed)
    i = np.arange(n)
    live = i >= nb
    # event clock: backlog dense in event time, live faster so that
    # windows close every few wall seconds
    clock = np.where(
        live,
        a.backlog_hours * 3600 + (i - nb) * (3600.0 / (a.rate * a.wall_s_per_event_hour)),
        i * (a.backlog_hours * 3600.0 / nb))
    et = np.floor(clock + rng.integers(-JITTER_S, JITTER_S + 1, n)).astype(np.int64)
    late = live & (rng.random(n) < LATE_SHARE)
    et = np.where(late, np.floor(clock).astype(np.int64) - LATE_S, et)
    et += BASE_EPOCH_S
    acct = (N_ACCOUNTS * rng.random(n) ** 2).astype(np.int64)
    ttype = rng.integers(0, len(TYPES), n)
    lo = np.array([AMOUNT_RANGE[t][0] for t in TYPES])[ttype]
    hi = np.array([AMOUNT_RANGE[t][1] for t in TYPES])[ttype]
    amount = np.round(lo + rng.random(n) * (hi - lo), 2)
    invalid_kind = np.where(rng.random(n) < INVALID_SHARE, rng.integers(1, 5, n), 0)
    amount = np.where(invalid_kind == 3, 0.0, amount)
    amount = np.where(invalid_kind == 4, -amount, amount)
    return {
        "n": n, "backlog": nb, "per_drop": per_drop, "n_drops": n_drops,
        "event_time": et, "late": late, "account": acct, "type": ttype,
        "amount": amount, "invalid_kind": invalid_kind,
        "status": rng.integers(0, 4, n), "source": rng.integers(0, len(SOURCES), n),
        "merchant": rng.integers(0, len(MERCHANTS), n),
    }


def lines(ev, lo, hi, seed, created_ms):
    """JSON lines for events [lo, hi); `created_ms` is substituted for
    the placeholder {C} so live drops can be pre-rendered."""
    ts = np.datetime_as_string(ev["event_time"][lo:hi].astype("datetime64[s]"))
    out = []
    for j, i in enumerate(range(lo, hi)):
        kind = int(ev["invalid_kind"][i])
        acct = int(ev["account"][i])
        t = TYPES[int(ev["type"][i])]
        tid = "null" if kind == 1 else f'"T{seed}-{i:09d}"'
        aid = "null" if kind == 2 else f'"ACC{acct:07d}"'
        merchant = (f',"merchant_info":{{"name":"{MERCHANTS[int(ev["merchant"][i])]}",'
                    f'"category":"retail","merchant_id":"M{10000 + i % 90000}"}}'
                    if t == "payment" else "")
        out.append(
            f'{{"transaction_id":{tid},"account_id":{aid},'
            f'"customer_id":"CUST{acct % 50_000:06d}","transaction_type":"{t}",'
            f'"amount":{float(ev["amount"][i])!r},"currency":"USD","timestamp":"{ts[j]}",'
            f'"status":"{"pending" if ev["status"][i] == 0 else "completed"}",'
            f'"source":"{SOURCES[int(ev["source"][i])]}","reference_id":"E{i}",'
            f'"metadata":{{"created_ms":"{{C}}"}}{merchant}}}')
    body = "\n".join(out) + "\n"
    return body if created_ms is None else body.replace("{C}", str(created_ms))


def _atomic_write(tmp_dir, dest_dir, name, body):
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w") as f:
        f.write(body)
    os.rename(tmp, os.path.join(dest_dir, name))


def stage(a):
    """Pre-render every drop: backlog files into <work>/stage, live drop
    templates (creation time still a placeholder) into <work>/live."""
    ev = make_events(a)
    stage_dir = os.path.join(a.work, "stage")
    live_dir = os.path.join(a.work, "live")
    tmp_dir = os.path.join(a.work, "gen_tmp")
    for d in (stage_dir, live_dir, tmp_dir):
        os.makedirs(d, exist_ok=True)
    nb, nf = ev["backlog"], a.backlog_files
    now_ms = int(time.time() * 1000)
    for f in range(nf):
        lo, hi = f * nb // nf, (f + 1) * nb // nf
        _atomic_write(tmp_dir, stage_dir, f"b{f:05d}.json",
                      lines(ev, lo, hi, a.seed, now_ms))
    if not a.catchup_only:
        m = ev["per_drop"]
        for k in range(ev["n_drops"]):
            with open(os.path.join(live_dir, f"l{k:06d}.json"), "w") as f:
                f.write(lines(ev, nb + k * m, nb + (k + 1) * m, a.seed, None))


def _wait_for(path, timeout_s):
    t_end = time.time() + timeout_s
    while not os.path.exists(path):
        if time.time() > t_end:
            sys.exit(f"gen_stream: timed out waiting for {path}")
        time.sleep(0.002)


def run(a):
    in_dir = os.path.join(a.work, "in")
    tmp_dir = os.path.join(a.work, "gen_tmp")
    stage_dir = os.path.join(a.work, "stage")
    live_dir = os.path.join(a.work, "live")
    report = {}
    drops = []
    if not a.catchup_only:
        for name in sorted(os.listdir(live_dir)):
            with open(os.path.join(live_dir, name)) as f:
                drops.append(f.read())
    _wait_for(os.path.join(a.work, "ready"), 120)
    report["backlog_drop_ms"] = time.time() * 1000
    for name in sorted(os.listdir(stage_dir)):
        os.rename(os.path.join(stage_dir, name), os.path.join(in_dir, name))
    report["backlog_drop_end_ms"] = time.time() * 1000
    report["lag_ms"] = [report["backlog_drop_end_ms"] - report["backlog_drop_ms"]]
    if drops:
        _wait_for(os.path.join(a.work, "caughtup"), 150)
        t0 = time.time() + 0.05
        report["live_start_ms"] = t0 * 1000
        lags = []
        for k, body in enumerate(drops):
            due = t0 + k * a.drop_ms / 1000.0
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            _atomic_write(tmp_dir, in_dir, f"l{k:06d}.json",
                          body.replace("{C}", str(int(round(due * 1000)))))
            lags.append((time.time() - due) * 1000)
        report["lag_ms"] = lags
        report["live_end_ms"] = time.time() * 1000
    with open(os.path.join(a.work, "gen_report.json"), "w") as f:
        json.dump(report, f)
    with open(os.path.join(a.work, "gen_done"), "w") as f:
        f.write("done")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("cmd", choices=["stage", "run"])
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--catchup-only", action="store_true")
    add_size_args(ap)
    args = ap.parse_args()
    os.makedirs(os.path.join(args.work, "in"), exist_ok=True)
    os.makedirs(os.path.join(args.work, "gen_tmp"), exist_ok=True)
    {"stage": stage, "run": run}[args.cmd](args)
