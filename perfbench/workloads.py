"""The benchmark's workloads: how each generates its inputs and how its
raw samples become metrics and checks."""
import glob
import os
from dataclasses import dataclass, field

import duckdb

import gen
import metrics as m

# Per-layer metrics a traced run reports, with units. A layer a workload
# does not exercise reports 0 for its metrics in that workload.
PER_LAYER = [
    ("gen.files", "count"), ("gen.events", "count"), ("gen.late_ms_max", "ms"),
    ("relay.triggers", "count"), ("relay.rows_per_trigger", "count"),
    ("relay.latest_offset_ms", "ms"), ("relay.query_planning_ms", "ms"),
    ("relay.add_batch_ms", "ms"), ("relay.wal_commit_ms", "ms"),
    ("relay.commit_offsets_ms", "ms"), ("relay.trigger_ms_p50", "ms"),
    ("relay.phase_share", "share"), ("relay.backlog_files_max", "count"),
    ("dedup.state_rows", "count"), ("dedup.state_bytes", "bytes"),
    ("dedup.state_commit_ms", "ms"), ("dedup.dropped_duplicates", "count"),
    ("dedup.dropped_late", "count"), ("dedup.suppressed_ratio", "share"),
    ("encode.rows_per_s", "1/s"), ("encode.body_bytes_per_event", "bytes"),
    ("sink.write_ms", "ms"), ("sink.files_per_trigger", "count"),
    ("sink.bytes_per_event", "bytes"),
    ("exec.jobs", "count"), ("exec.tasks", "count"), ("exec.run_ms", "ms"),
    ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.shuffle_bytes", "bytes"),
    ("trace.overhead_share", "share"),
]
UNITS = dict(PER_LAYER)


@dataclass
class Result:
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=lambda: {k: (0, u) for k, u in PER_LAYER})
    lines: list = field(default_factory=list)
    checks: list = field(default_factory=list)
    ops: int = 0
    failed_ops: int = 0

    def layer(self, name, value):
        self.per_layer[name] = (value, UNITS[name])


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet')"


def relay_checks(con, out_dir, expected_dir, injected, label):
    """Delivery check on msg-ids plus (subject, body) equality with the
    batch transform of the same input."""
    exp = _parquet(expected_dir)
    out = _parquet(out_dir)
    exp_ids = [r[0] for r in con.sql(f"SELECT msg_id FROM {exp}").fetchall()]
    out_ids = [r[0] for r in con.sql(f"SELECT msg_id FROM {out}").fetchall()]
    fails = m.check_relay(exp_ids, out_ids, injected)
    cols = "msg_id, subject, body"
    missing = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {exp} EXCEPT SELECT {cols} FROM {out})").fetchone()[0]
    wrong = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {out} EXCEPT SELECT {cols} FROM {exp})").fetchone()[0]
    body = []
    if missing or wrong:
        body.append(f"(msg_id, subject, body) differs from the batch transform: "
                    f"{missing} missing, {wrong} unexpected")
    return [(f"{label}.delivery", fails), (f"{label}.envelope", body)]


def _trigger_layers(res, progress, injected):
    """relay.* and dedup.* from the progress of non-empty triggers."""
    trig = [p for p in progress if p["rows"] > 0]
    if not trig:
        return
    d = lambda k: [p["duration_ms"].get(k, 0) for p in trig]  # noqa: E731
    res.layer("relay.triggers", len(trig))
    res.layer("relay.rows_per_trigger", sum(p["rows"] for p in trig) / len(trig))
    res.layer("relay.latest_offset_ms", m.median(d("latestOffset")))
    res.layer("relay.query_planning_ms", m.median(d("queryPlanning")))
    res.layer("relay.add_batch_ms", m.median(d("addBatch")))
    res.layer("relay.wal_commit_ms", m.median(d("walCommit")))
    res.layer("relay.commit_offsets_ms", m.median(d("commitOffsets")))
    res.layer("relay.trigger_ms_p50", m.median(d("triggerExecution")))
    phases = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
              "walCommit", "commitOffsets"]
    total = sum(d("triggerExecution"))
    if total:
        res.layer("relay.phase_share", sum(sum(d(k)) for k in phases) / total)
    res.layer("dedup.state_rows", max(p["state_rows"] for p in trig))
    res.layer("dedup.state_bytes", max(p["state_bytes"] for p in trig))
    res.layer("dedup.state_commit_ms", m.median([p["state_commit_ms"] for p in trig]))
    dropped = sum(p["dropped_duplicates"] for p in trig)
    late = sum(p["dropped_late"] for p in trig)
    res.layer("dedup.dropped_duplicates", dropped)
    res.layer("dedup.dropped_late", late)
    if injected:
        res.layer("dedup.suppressed_ratio", (dropped + late) / injected)


def _common_layers(res, con, raw, out_dirs, triggers):
    enc = raw.get("encode")
    if enc:
        res.layer("encode.rows_per_s", enc["rows"] / (m.median(enc["ms"]) / 1000))
        res.layer("encode.body_bytes_per_event", enc["body_bytes_per_event"])
    writes = raw.get("sink_writes") or []
    if writes:
        res.layer("sink.write_ms", m.median(writes))
    files = [f for d in out_dirs for f in glob.glob(f"{d}/**/*.parquet", recursive=True)]
    rows = sum(con.sql(f"SELECT count(*) FROM {_parquet(d)}").fetchone()[0] for d in out_dirs)
    if triggers:
        res.layer("sink.files_per_trigger", len(files) / triggers)
    if rows:
        res.layer("sink.bytes_per_event", sum(os.path.getsize(f) for f in files) / rows)
    for k, v in (raw.get("exec") or {}).items():
        res.layer(f"exec.{k}", v)


class RelayDrain:
    """Closed loop: repeated drains of a staged, timestamp-ordered
    backlog through CdcRelay.start with Trigger.AvailableNow."""
    FILES_PER_ROUND = 24
    # untimed rounds before the window, until the JIT has settled
    WARM_ROUNDS = 5

    def generate(self, seed, seconds, trace, work):
        tables, injected = gen.event_files(seed, 1, self.FILES_PER_ROUND)
        staged = gen.stage(tables, os.path.join(work, "staged"))
        return {"staged": "staged", "files": staged, "injected": injected,
                "warm_rounds": self.WARM_ROUNDS}

    def evaluate(self, raw, manifest, work, trace):
        res = Result()
        events = sum(f["rows"] for f in manifest["files"])
        con = duckdb.connect()
        by_run = {}
        for p in raw["progress"]:
            by_run.setdefault(p["run_id"], []).append(p)
        rates = {False: [], True: []}
        for r in raw["rounds"]:
            prog = by_run.get(r["run_id"], [])
            rows = sum(p["rows"] for p in prog)
            res.ops += 1
            if rows != events:
                res.failed_ops += 1
            rates[r["traced"]].append(rows / (r["wall_ms"] / 1000))
            res.checks += relay_checks(con, os.path.join(work, r["out"]),
                                       os.path.join(work, "expected"),
                                       manifest["injected"], f"round{r['index']}")
        eps = m.median(rates[False])
        n = len(rates[False])
        res.end_to_end["throughput_per_s"] = (eps, "1/s")
        res.end_to_end["latency_ms"] = (m.median(
            [r["wall_ms"] for r in raw["rounds"] if not r["traced"]]), "ms")
        # each finished drain leaves its dedup state loaded until the state
        # store's maintenance unloads it (~23 MB per drain here), so the
        # retained heap is read after a fixed number of drains: the second
        # timed one, the fifth in all
        res.end_to_end["peak_heap_mb"] = (raw["rounds"][1]["live_heap_bytes"] / 2**20, "MB")
        res.lines.append(f"relay_drain_events_per_s {eps:.1f} events/s (median of {n} drains "
                         f"of {events} events, {len(manifest['files'])} files each)")
        res.lines.append("relay_drain_round_ms " + " ".join(
            f"{r['wall_ms']:.0f}" for r in raw["rounds"]))
        if trace:
            traced = [r for r in raw["rounds"] if r["traced"]]
            progress = [p for r in traced for p in by_run.get(r["run_id"], [])]
            res.layer("gen.files", len(manifest["files"]))
            res.layer("gen.events", events)
            _trigger_layers(res, progress, manifest["injected"] * len(traced))
            res.layer("relay.backlog_files_max", len(manifest["files"]))
            _common_layers(res, con, raw, [os.path.join(work, r["out"]) for r in traced],
                           sum(1 for p in progress if p["rows"] > 0))
            if rates[True]:
                res.layer("trace.overhead_share", m.median(rates[False]) / m.median(rates[True]) - 1)
        return res


class RelayLive:
    """Open loop: files land on a fixed schedule in a running
    CdcRelay.startContinuous (1 s trigger, 8-file cap)."""
    # 525 ms spreads arrivals evenly over the 1 s trigger period (even
    # files at multiples of 50 ms, odd ones offset by 25 ms), so the
    # latency sample does not depend on the phase of one file
    GAP_MS = 525
    # file 0 lands this long after a trigger tick; with the 525 ms gap no
    # file lands within 12 ms of a tick, where it would race the listing
    PHASE_MS = 12.5
    # before the leg, a warm relay runs this many one-file triggers of
    # small files: the per-trigger path takes about ten triggers to reach
    # its steady speed
    WARM_TRIGGERS = 12
    # the first files of each leg land on the same schedule but are not
    # timed: the live query's first triggers are slower and leave a
    # backlog that takes about ten files to clear
    WARM_FILES = 10

    def generate(self, seed, seconds, trace, work):
        legs = 2 if trace else 1
        per_leg = self.WARM_FILES + int(seconds * 1000 // self.GAP_MS) // legs
        tables, _ = gen.event_files(seed, 1, legs * per_leg)
        staged = gen.stage(tables, os.path.join(work, "staged"))
        warm, _ = gen.event_files(seed, 2, self.WARM_TRIGGERS, per_file=512)
        gen.stage(warm, os.path.join(work, "warm", "in"))
        per_dup = round(gen.EVENTS_PER_FILE * gen.REDELIVERED_SHARE)
        return {"staged": "staged", "files": staged, "gap_ms": self.GAP_MS,
                "phase_ms": self.PHASE_MS, "legs": legs,
                "warm_files": self.WARM_FILES, "per_dup": per_dup}

    def evaluate(self, raw, manifest, work, trace):
        res = Result()
        con = duckdb.connect()
        lat, late, rate = {}, [], {}
        for leg in raw["legs"]:
            commits = sorted(((p["recv_ms"], p["rows"]) for p in leg["progress"]),
                             key=lambda c: c[0])
            per_file = m.file_latencies_ms(leg["due_ms"], leg["rows"], commits)
            res.ops += len(per_file)
            res.failed_ops += sum(1 for x in per_file if x is None)
            lat[leg["traced"]] = [x for x in per_file[manifest["warm_files"]:] if x is not None]
            late += m.lateness_ms(leg["due_ms"], leg["landed_ms"])
            # committed rows per second from the first timed file's due time
            w = manifest["warm_files"]
            done = [c for c in commits if c[1] > 0]
            if done:
                span_s = (done[-1][0] - leg["due_ms"][w]) / 1000
                rate[leg["traced"]] = sum(leg["rows"][w:]) / span_s
            # a leg's first file redelivers events of a file the leg never
            # sees, so they are new to it
            injected = manifest["per_dup"] * (len(leg["files"]) - 1)
            res.checks += relay_checks(con, os.path.join(work, leg["out"]),
                                       os.path.join(work, f"expected_{leg['leg']}"),
                                       injected, f"leg{leg['leg']}")
            leg["injected"] = injected
        base = lat.get(False, [])
        p50, n = m.percentile(base, 0.50)
        p95, _ = m.percentile(base, 0.95)
        res.end_to_end["latency_ms"] = (p50, "ms")
        res.end_to_end["throughput_per_s"] = (rate.get(False), "1/s")
        res.end_to_end["peak_heap_mb"] = (max(
            leg["live_heap_bytes"] for leg in raw["legs"]) / 2**20, "MB")
        gap = manifest["gap_ms"]
        for name, value, need in (("p50", p50, 20), ("p95", p95, 200)):
            res.lines.append(f"relay_live_latency_{name}_ms " + (
                f"{value} ms (n={n}, {1000 / gap:.3f} files/s)" if value is not None
                else f"n/a (n={n} < {need})"))
        if trace:
            tleg = next(leg for leg in raw["legs"] if leg["traced"])
            res.layer("gen.files", len(manifest["files"]))
            res.layer("gen.events", sum(f["rows"] for f in manifest["files"]))
            res.layer("gen.late_ms_max", max(late))
            prog = tleg["progress"]
            _trigger_layers(res, prog, tleg["injected"])
            res.layer("relay.backlog_files_max", _backlog_max(tleg))
            _common_layers(res, con, raw, [os.path.join(work, tleg["out"])],
                           sum(1 for p in prog if p["rows"] > 0))
            if lat.get(True) and base:
                res.layer("trace.overhead_share",
                          sum(lat[True]) / len(lat[True]) / (sum(base) / len(base)) - 1)
        return res


def _backlog_max(leg):
    """Most files landed but not yet committed, seen at any commit."""
    commits = sorted((p["recv_ms"], p["rows"]) for p in leg["progress"] if p["rows"] > 0)
    cum_files, cum = [], 0
    for r in leg["rows"]:
        cum += r
        cum_files.append(cum)
    best, committed = 0, 0
    for t, rows in commits:
        landed = sum(1 for x in leg["landed_ms"] if x <= t)
        done_files = sum(1 for c in cum_files if c <= committed)
        best = max(best, landed - done_files)
        committed += rows
    return best


WORKLOADS = {
    "relay_drain": RelayDrain(),
    "relay_live": RelayLive(),
}
