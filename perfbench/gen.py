"""Load generator for the IoT workloads: makes the events and publishes chunks.

It runs as its own process, apart from the system under test, in two steps:

  events   Make the workload's events from the seed with the event model of
           spec.json (`events`, fitted to the sf0.1 `events` table) and
           write them, with the chunk file each belongs to, to
           <run>/inputs.parquet, and the chunk list to <run>/chunks.json.
           The harness renders the rows into wire lines with the program's
           own `Wire` layouts during its set-up (stage/<part>/<file>); the
           oracle reads the same rows.
  publish  Hard-link each staged main chunk into the watched directory when
           it is due on a fixed schedule that does not wait for the
           system, and log each chunk's due and actual publish time (epoch
           seconds).

    python3 perfbench/gen.py events --run DIR --workload NAME --seed N --seconds S
    python3 perfbench/gen.py publish --run DIR --watch DIR
"""
import argparse
import json
import os
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPEC = json.loads((Path(__file__).resolve().parent / "spec.json").read_text())
MODEL = SPEC["events"]
TAGS = ["fitbit", "new-user-notification", "sales"]
# The five TPC-H market segments; a profile's category, as s06's profile
# feed takes it from the customer's segment.
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
BP_CATS = ["HYP_1", "NORMAL", "ELEV"]


def layout(w, seconds):
    """The workload's staged parts, in event order, as (part, chunks, events
    per chunk, random users?). iot-steady: `warm` (set-up) and `main` (the
    schedule). iot-catchup: `warm`, then `prefill`, one chunk holding one
    fitbit and one signup event for every user so the registers start full,
    then the bursts `burst<k>`."""
    per, warm = w["events_per_chunk"], SPEC["run"]["warm_chunks"]
    if w["mode"] == "steady":
        n = int(seconds * 1000 // w["chunk_interval_ms"])
        return [("warm", warm, per, True), ("main", n, per, True)]
    users = MODEL["users"] * w["replicas"]
    return ([("warm", warm, per, True), ("prefill", 1, 2 * users, False)]
            + [(f"burst{k}", w["backlog_chunks"], per, True) for k in range(w["max_bursts"])])


def make_events(w, seed, parts):
    """Seeded event rows drawn from the sf0.1 event model. Timestamps rise
    strictly with event_id, so every register's version column (machine_ts,
    bmi) is unique per key."""
    sizes = [per for _, n, per, _ in parts for _ in range(n)]
    n = sum(sizes)
    rng = np.random.default_rng(seed)
    types = list(MODEL["event_type_p"])
    gap = 1 + np.floor(rng.exponential(MODEL["gap_ms_mean"], n)).astype(np.int64)
    ts_ms = MODEL["base_ms"] + np.cumsum(gap)
    etype = rng.choice(len(types), n, p=list(MODEL["event_type_p"].values()))
    # Replicas of the sf0.1 key space with shifted user ids.
    user_id = (rng.integers(0, MODEL["users"], n)
               + MODEL["users"] * rng.integers(0, w["replicas"], n))
    value = np.round(rng.exponential(MODEL["value_mean"], n), 2)
    lo = 0
    for _, c, per, random_users in parts:
        hi = lo + c * per
        if not random_users:
            k = np.arange(hi - lo)
            user_id[lo:hi] = k // 2
            etype[lo:hi] = np.where(k % 2 == 0, types.index("view"), types.index("signup"))
        lo = hi
    return {
        "event_id": np.arange(n, dtype=np.int64), "ts_ms": ts_ms, "user_id": user_id,
        "event_type": np.array(types)[etype], "value": value,
        "tag": np.array([TAGS.index(MODEL["tag_of_type"][t]) for t in types])[etype],
        "chunk": np.repeat(np.arange(len(sizes)), sizes),
    }


def wire_fields(ev):
    """The new-user-notification (`nu_*`) and sales (`sales_*`) wire fields,
    named after `Wire.NewUserSchema` and `Wire.SalesSchema`; null on other
    rows. A profile follows s06's profile feed (age, gender, height, bfp,
    blood pressure from the user id; weight the event's value) with bmi the
    event_id, the register's monotone version. A sale's count is its value
    rounded half up, as the program's sales feed renders it."""
    uid, eid, v = ev["user_id"], ev["event_id"], ev["value"]
    nu = ev["tag"] == TAGS.index("new-user-notification")
    sale = ev["tag"] == TAGS.index("sales")

    def only(mask, xs):
        return pa.array(xs, mask=~mask)

    day = np.datetime_as_string(ev["ts_ms"].astype("datetime64[ms]"), unit="D")
    return {
        "nu_age": only(nu, (uid % 60 + 18).astype(np.int32)),
        "nu_gender": only(nu, np.where(uid % 2 == 0, "F", "M")),
        "nu_category": only(nu, np.array(SEGMENTS)[uid % len(SEGMENTS)]),
        "nu_weight": only(nu, v),
        "nu_height": only(nu, 1.5 + (uid % 50) / 100),
        "nu_bmi": only(nu, eid.astype(np.float64)),
        "nu_bfp": only(nu, (uid % 40).astype(np.float64)),
        "nu_bp_cat": only(nu, np.array(BP_CATS)[uid % 3]),
        "nu_bp_sys": only(nu, (uid % 40 + 100).astype(np.float64)),
        "nu_bp_dia": only(nu, (uid % 30 + 60).astype(np.float64)),
        "nu_user_id": only(nu, uid.astype(str)),
        "nu_device_id": only(nu, np.char.add("d", uid.astype(str))),
        "sales_date": only(sale, day),
        "sales_count": only(sale, np.floor(v + 0.5).astype(np.int32)),
    }


def events(run, workload, seed, seconds):
    w = SPEC["workloads"][workload]
    parts = layout(w, seconds)
    ev = make_events(w, seed, parts)
    chunks = []
    c = 0
    for part, n, _, _ in parts:
        for i in range(n):
            chunks.append({"chunk": c, "part": part, "file": f"{part}-{i:05d}.txt"})
            c += 1
    by_tag = np.bincount(ev["chunk"] * len(TAGS) + ev["tag"],
                         minlength=c * len(TAGS)).reshape(c, len(TAGS))
    for ch, counts in zip(chunks, by_tag.tolist()):
        ch["events"] = sum(counts)
        ch["by_tag"] = dict(zip(TAGS, counts))
    table = pa.table({
        "part": np.array([ch["part"] for ch in chunks])[ev["chunk"]],
        "file": np.array([ch["file"] for ch in chunks])[ev["chunk"]],
        "event_id": ev["event_id"], "ts_ms": ev["ts_ms"], "user_id": ev["user_id"],
        "event_type": ev["event_type"], "value": ev["value"],
        "tag": np.array(TAGS)[ev["tag"]],
        **wire_fields(ev),
    })
    pq.write_table(table, run / "inputs.parquet")
    if w["mode"] == "steady":
        main = [ch for ch in chunks if ch["part"] == "main"]
        for i, ch in enumerate(main):
            ch["due_s"] = i * w["chunk_interval_ms"] / 1000
    (run / "chunks.json").write_text(json.dumps(chunks))


def publish(run, watch):
    """Publish every staged main chunk at its due time (seconds from the
    start); returns when the last one is out. The schedule never waits for
    the system. Each link is atomic: a chunk is visible whole or not at
    all."""
    chunks = [c for c in json.loads((run / "chunks.json").read_text()) if c["part"] == "main"]
    stage = run / "stage" / "main"
    log = []
    t0 = time.time() + 0.05
    for c in chunks:
        due = t0 + c["due_s"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.link(stage / c["file"], watch / c["file"])
        log.append({"file": c["file"], "due": due, "actual": time.time()})
    (run / "gen_log.json").write_text(json.dumps(log))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("step", choices=["events", "publish"])
    ap.add_argument("--run", type=Path, required=True)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--watch", type=Path)
    a = ap.parse_args()
    if a.step == "events":
        events(a.run, a.workload, a.seed, a.seconds)
    else:
        publish(a.run, a.watch)


if __name__ == "__main__":
    main()
