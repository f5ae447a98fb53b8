"""The benchmark's workloads. Each drives public entry points of
``dbt_repo_spark`` from one client thread and returns a ``Result``.

Every operation is timed twice: wall-clock latency and CPU seconds of
the whole process tree (``cpu_s``).

- ``GbfsMinutely``  closed loop: set-up backfills a warehouse (ingest +
  ``ModelRunner.run(full_refresh=True)``), each op lands one status
  snapshot, appends it and re-runs the incremental facts; the runner's
  data tests run over the final warehouse.
- ``StatusStream``  open loop: a generator thread lands payload files on
  a fixed schedule into ``streaming.ingest.start_status_ingest``; a drain
  phase over a fixed backlog follows.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import math
import os
import sys
import threading
import time

import numpy as np

from perfbench import gen
from perfbench.trace import (
    Tracer, TracingCatalog, parquet_files, parquet_rows, traced_models,
    traced_tests)


@dataclasses.dataclass
class Result:
    setup: list[float]  # wall seconds of each set-up repetition
    op_cpu: list[float]  # CPU seconds of every timed operation
    rows_per_cpu_s: float
    ops: list[float]  # latency of every timed operation
    rows_per_s: float
    attempted: int
    failed: int
    layer: dict  # workload-specific per-layer metrics
    ops_wall_s: float  # wall time of the timed loop


SETUP_REPS = 3  # stream set-ups per run; setup_s is their median


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


_T0 = time.perf_counter()
_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process and its live descendants
    (the driver JVM and its Python workers), with the children they have
    reaped, less the JVM's JIT compiler threads. Time the host's
    hypervisor gives to other guests (steal) is not charged to a process,
    so this stays put when neighbours load the host; wall-clock times do
    not. JIT compilation is warm-up of a fresh JVM that a long-lived
    session pays once; how much of it lands in a timed operation varies
    from run to run (DESIGN.md, "Why CPU seconds")."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        # f[1] ppid; f[11:15] utime, stime, cutime, cstime
        kids.setdefault(int(f[1]), []).append(int(name))
        ticks[int(name)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0) - _jit_ticks(pid)
        todo += kids.get(pid, [])
    return total / _TCK


def _jit_ticks(pid: int) -> int:
    """utime + stime of the HotSpot compiler threads ("C1/C2
    CompilerThread<n>") of process ``pid``; 0 if it is not a JVM. The
    session keeps them alive (-UseDynamicNumberOfCompilerThreads), so
    none takes its CPU with it when it exits."""
    out = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        comm = st[st.index("(") + 1:st.rindex(")")]
        if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = st.rsplit(")", 1)[1].split()
            out += int(f[11]) + int(f[12])
    return out


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


# ---------------------------------------------------------------- GBFS

# sizes and the measurements behind them: DESIGN.md, "Sizes"
GBFS_STATIONS = 300
GBFS_HISTORY_MIN = 120  # one-minute snapshots in the set-up backfill
GBFS_TRIPS = 100_000 * GBFS_HISTORY_MIN // 1440  # 100k trips per day
TICK_SELECT = ["fact_station_status+", "fact_station_status_history+",
               "fact_station_status_latest"]
# timed ticks per run: one per TICK_S of --seconds (a warm tick's wall
# time on a quiet 4-vCPU host), at least 3. The count depends on
# --seconds only, not on how fast the host is that day: tick CPU still
# falls tick by tick as the JIT warms up, so a count that varied with
# the host would move the median.
TICK_S = 4.0
MIN_TICKS = 3


class GbfsMinutely:
    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.land = os.path.join(work, "gbfs", "landing")
        self.feed, self.tally = gen.land_gbfs_history(
            np.random.default_rng(seed), self.land,
            GBFS_STATIONS, GBFS_HISTORY_MIN, GBFS_TRIPS)

    def _catalog(self, root):
        from dbt_repo_spark.sources.catalog import Catalog

        if self.tracer.enabled:
            return TracingCatalog(self.spark, root, self.tracer)
        return Catalog(self.spark, root)

    def backfill(self) -> float:
        from dbt_repo_spark.models import GBFS_MODELS
        from dbt_repo_spark.plans.runner import ModelRunner
        from dbt_repo_spark.sources.ingest_batch import (
            gbfs_raw_load, historic_trips_load)

        spark, tr, land = self.spark, self.tracer, self.land
        cat = self._catalog(os.path.join(self.work, "gbfs", "warehouse"))
        models = traced_models(GBFS_MODELS, tr) if tr.enabled else GBFS_MODELS
        c0 = cpu_s()
        t0 = time.perf_counter()
        with tr.span("backfill"):
            with tr.span("ingest"):
                status = gbfs_raw_load(spark, f"{land}/status", cat, "station_status")
                info = gbfs_raw_load(spark, f"{land}/information", cat,
                                     "station_information", serialize_data=True)
                trips = historic_trips_load(spark, f"{land}/trips/*.csv", cat)
            runner = ModelRunner(spark, cat, {
                "raw_station_status": status,
                "raw_station_information": info,
                "raw_historic_trips": trips,
            }).add(*models)
            with tr.span("runner"):
                self.built = runner.run(full_refresh=True)
        elapsed = time.perf_counter() - t0
        self.backfill_cpu = cpu_s() - c0
        tr.model = None
        self.catalog, self.runner = cat, runner
        self.backfill_ok = self._check_backfill(cat)
        self.hist_path = cat.path("analytics", "fact_station_status_history")
        self.seen = set(parquet_files(self.hist_path))  # its parquet files so far
        self.hist_rows = self.tally["status_rows"]
        return elapsed

    def data_tests_pass(self) -> bool:
        """The models' declared data tests over the final warehouse."""
        with self.tracer.span("testing"), traced_tests(self.tracer):
            results = self.runner.test(self.built)
        return all(r.passed for rs in results.values() for r in rs)

    def _check_backfill(self, cat) -> bool:
        """Model row counts and mart aggregates against the generator's
        tallies (read with pyarrow, outside Spark and the timed region)."""
        import pyarrow.parquet as pq

        t = self.tally
        a = lambda name: pq.read_table(cat.path("analytics", name))  # noqa: E731
        fss, hist = a("fact_station_status"), a("fact_station_status_history")
        uptime, trips = a("mart_station_uptime"), a("mart_trip_metrics")
        avail = a("mart_station_availability")
        days = (dt.datetime.now(dt.timezone.utc).date()
                - dt.date(2025, 1, 1)).days + 1
        checks = [
            fss.num_rows == t["status_rows"],
            hist.num_rows == t["status_rows"],
            a("dim_stations").num_rows == t["info_stations"],
            a("dim_tariff").num_rows == t["tariffs"],
            abs(a("dim_date").num_rows - days) <= 1,
            a("fact_trips").num_rows == t["trips"],
            avail.num_rows == t["info_stations"] * t["snapshots"],
            uptime.num_rows == t["stations"],
            sum(uptime.column("total_snapshots").to_pylist()) == t["status_rows"],
            sum(uptime.column("renting_snapshots").to_pylist()) == t["renting"],
            sum(trips.column("total_trips_started").to_pylist()) == t["trips"],
            sum(trips.column("count_mismatched_durations").to_pylist())
            == t["mismatched"],
        ]
        return all(checks)

    def tick(self, k: int) -> tuple[float, float] | None:
        """Land snapshot ``k``, append it and re-run the incremental facts.
        Returns (latency, CPU seconds), or None if the tick failed or its
        output is wrong (checked outside the timed region)."""
        from dbt_repo_spark.sources.ingest_batch import gbfs_raw_load

        spark, tr, cat = self.spark, self.tracer, self.catalog
        d = os.path.join(self.work, "gbfs", "ticks", f"t{k:05d}")
        gen.write_json(f"{d}/snapshot.json", self.feed.snapshot())
        c0 = cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.span("tick"):
                with tr.span("ingest"):
                    raw = gbfs_raw_load(spark, d, cat, "station_status")
                self.runner.sources["raw_station_status"] = raw
                with tr.span("runner"):
                    built = self.runner.run(TICK_SELECT)
                with tr.span("read_latest"):
                    latest = built["fact_station_status_latest"].select(
                        "station_id", "status_timestamp").collect()
            elapsed = time.perf_counter() - t0
            cpu = cpu_s() - c0
        except Exception as exc:  # a failed op is counted, not fatal
            log(f"tick {k} failed: {exc!r}")
            return None
        finally:
            tr.model = None
        self.built.update(built)
        # exactly one snapshot's rows appended; the latest view shows the
        # newest feed epoch for every station
        new = [p for p in parquet_files(self.hist_path) if p not in self.seen]
        self.seen.update(new)
        appended = parquet_rows(new)
        self.hist_rows += appended
        newest = self.feed.last_feed_epoch
        ok = (appended == GBFS_STATIONS and len(latest) == GBFS_STATIONS
              and all(int(r.status_timestamp.replace(
                  tzinfo=dt.timezone.utc).timestamp()) == newest
                  for r in latest))
        return (elapsed, cpu) if ok else None

    def run(self, seconds: float) -> Result:
        # set-up once: a second backfill does not fit the run budget
        backfill = self.backfill()
        log(f"backfill set-up {backfill:.1f}s, {self.backfill_cpu:.1f} CPU s")
        failed = int(not self.backfill_ok)
        # the first tick after the backfill also plans and compiles the
        # append path: it runs untimed (checked, and reported per layer)
        cold = self.tick(0)
        failed += int(cold is None)
        attempted = 2
        lat: list[float] = []
        cpu: list[float] = []
        t_loop = time.perf_counter()
        n_ticks = max(MIN_TICKS, math.ceil(seconds / TICK_S))
        for k in range(1, n_ticks + 1):
            self.tracer.op = k
            res = self.tick(k)
            self.tracer.op = None
            attempted += 1
            if res is None:
                failed += 1
            else:
                lat.append(res[0])
                cpu.append(res[1])
        wall = time.perf_counter() - t_loop
        log(f"ticks {[round(x, 2) for x in lat]} s, "
            f"{[round(x, 2) for x in cpu]} CPU s, after a "
            f"{cold[0] if cold else 0:.2f} s cold tick")
        attempted += 1
        failed += int(not self.data_tests_pass())
        files = parquet_files(os.path.join(self.catalog.root, "analytics"))
        layer = {
            "catalog.table_files": len(files),
            "catalog.stored_bytes_per_row":
                sum(os.path.getsize(p) for p in files) / max(1, self.hist_rows),
            "backfill.busy_s": backfill,
            "tick.cold_s": cold[0] if cold else 0.0,
        }
        # every tick offers each incremental fact the whole status history
        # (it anti-joins against the target), and appends one snapshot
        n_inc = sum(1 for m in self.runner.models.values()
                    if m.materialized == "incremental")
        layer["runner.incremental.offered_rows"] = n_inc * sum(
            self.tally["status_rows"] + GBFS_STATIONS * (i + 1)
            for i in range(1, n_ticks + 1))
        # throughput: rows landed (status + trips) per CPU second of the
        # backfill; per wall second of tick (300 / the mean tick) per layer
        rows_per_cpu_s = ((self.tally["status_rows"] + GBFS_TRIPS)
                          / self.backfill_cpu)
        rows_per_s = GBFS_STATIONS * len(lat) / sum(lat) if lat else 0.0
        return Result([backfill], cpu, rows_per_cpu_s, lat, rows_per_s,
                      attempted, failed, layer, wall)


# ------------------------------------------------------------ streaming

STREAM_STATIONS = 300
STREAM_RATE = 10.0  # payloads per second
# A micro-batch's CPU is mostly a fixed cost per batch. With a trigger
# shorter than a batch, batches run back to back and their size follows
# the host's speed (13 files on a quiet host, 25 when loaded, and +20 %
# CPU per batch with it); a 2 s trigger keeps them at ~20 files as long
# as a batch takes under 2 s (DESIGN.md, "Why CPU seconds").
STREAM_TRIGGER = "2 seconds"
# the open loop first runs this long untimed: a micro-batch's CPU falls
# over its first few batches as the JIT compiles the batch path
STREAM_WARM_S = 6.0
STREAM_BACKLOG = 80  # payloads landed while the query is down, then drained
REDELIVER_P = 0.1
LATE_P = 0.05
LATE_DELAY_S = 1.5


class StatusStream:
    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.rng = np.random.default_rng(seed)
        self.feed = gen.GbfsFeed(self.rng, STREAM_STATIONS, step_s=1)
        self.payloads: list[str] = []
        self.pairs: list[list[tuple[str, int]]] = []
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    def payload(self, i: int) -> str:
        while len(self.payloads) <= i:
            snap = self.feed.snapshot()
            self.pairs.append([(s["station_id"], s["last_reported"])
                               for s in snap["data"]["stations"]])
            self.payloads.append(json.dumps(snap, separators=(",", ":")))
        return self.payloads[i]

    def _dim(self):
        info = self.feed.information()["data"]["stations"]
        rows = [(s["station_id"], s["name"], s["capacity"]) for s in info]
        return self.spark.createDataFrame(
            rows, "station_id string, station_name string, capacity int")

    def _drop(self, idx: int) -> float:
        """Land payload ``idx`` atomically (write aside, then rename)."""
        n = self.n_landed
        self.n_landed += 1
        tmp = os.path.join(self.dirs["tmp"], f"p{n:06d}.json")
        with open(tmp, "w") as fh:
            fh.write(self.payload(idx))
        os.rename(tmp, os.path.join(self.dirs["landing"], f"p{n:06d}.json"))
        self.landed.append(idx)
        return time.time()

    def _processed(self) -> int:
        return sum(p["numInputRows"] for p in self.query.recentProgress)

    def _wait_processed(self, n: int, timeout: float = 60.0) -> None:
        t_end = time.time() + timeout
        while self._processed() < n:
            if self.query.exception() is not None or time.time() > t_end:
                raise RuntimeError(f"stream stalled: {self.query.exception()}")
            time.sleep(0.02)

    def start(self, rep: int) -> float:
        base = os.path.join(self.work, "stream", f"r{rep}")
        self.dirs = {k: os.path.join(base, k)
                     for k in ("landing", "tmp", "out", "ckpt")}
        for p in self.dirs.values():
            os.makedirs(p, exist_ok=True)
        self.n_landed, self.landed = 0, []
        t0 = time.perf_counter()
        with self.tracer.span("stream.start"):
            self._start_query()
            self._drop(0)
            self._wait_processed(1)
        return time.perf_counter() - t0

    def _start_query(self) -> None:
        from dbt_repo_spark.streaming.ingest import start_status_ingest

        self.query = start_status_ingest(
            self.spark, self.dirs["landing"], self.dirs["out"],
            self.dirs["ckpt"], station_dim=self._dim(),
            trigger={"processingTime": STREAM_TRIGGER})

    def run(self, seconds: float) -> Result:
        setups = []
        for r in range(SETUP_REPS):
            setups.append(self.start(r))
            if r < SETUP_REPS - 1:
                self.query.stop()
        log(f"stream set-up {setups}")
        # open loop for STREAM_WARM_S + `seconds`: schedule (due time,
        # payload index), late payloads shifted, redeliveries as extra
        # files of the same payload
        n = int((STREAM_WARM_S + seconds) * STREAM_RATE)
        sched = []
        for i in range(1, n + 1):
            due = i / STREAM_RATE
            if self.rng.random() < LATE_P:
                due += LATE_DELAY_S
            sched.append((due, i))
            if self.rng.random() < REDELIVER_P:
                sched.append((due + 0.3, i))
        sched.sort()
        for _due, i in sched:
            self.payload(i)  # render ahead of time
        for j in range(STREAM_BACKLOG):
            self.payload(n + 1 + j)
        due_at: list[float] = [0.0]  # epoch each landed file was due
        late_by: list[float] = []
        backlog = 0
        t_start = time.time() + 0.2

        def generate():
            for due, i in sched:
                target = t_start + due
                delay = target - time.time()
                if delay > 0:
                    time.sleep(delay)
                landed = self._drop(i)
                due_at.append(target)
                late_by.append(landed - target)

        gen_thread = threading.Thread(target=generate, daemon=True)
        # CPU of each micro-batch: the process tree's CPU between the
        # commits of consecutive batches (the batch, and the idle wait for
        # the next trigger). Timed: the batches whose window opens after
        # the warm-up and closes within `seconds` of it; later batches
        # hold only the late and redelivered stragglers, and a batch's
        # CPU is mostly fixed, so they would read as costly per row.
        t_warm = t_start + STREAM_WARM_S
        t_stop = t_warm + seconds
        batch_cpu: list[float] = []
        batch_rows = 0
        seen, processed = self.query.lastProgress["batchId"], 1
        c_last, t_last = cpu_s(), time.time()
        with self.tracer.span("stream.open_loop"):
            gen_thread.start()
            t_end = t_stop + 60.0
            while gen_thread.is_alive() or processed < self.n_landed:
                lp = self.query.lastProgress
                if lp and lp["batchId"] != seen and lp["numInputRows"]:
                    c, now = cpu_s(), time.time()
                    if t_last >= t_warm and now <= t_stop:
                        batch_cpu.append(c - c_last)
                        batch_rows += lp["numInputRows"] * STREAM_STATIONS
                    seen, c_last, t_last = lp["batchId"], c, now
                    processed = self._processed()
                backlog = max(backlog, self.n_landed - processed)
                if self.query.exception() is not None or time.time() > t_end:
                    raise RuntimeError(f"stream stalled: {self.query.exception()}")
                time.sleep(0.05)
            gen_thread.join()
        open_wall = time.time() - t_start  # the span the counters cover
        progress = list(self.query.recentProgress)
        log(f"open loop done, {self.n_landed} files; batches (files, s) "
            + str([(p["numInputRows"],
                     round(p["durationMs"]["triggerExecution"] / 1e3, 2))
                   for p in progress if p["numInputRows"]])
            + f"; batch CPU s {[round(x, 2) for x in batch_cpu]}")
        run_id = str(self.query.runId)
        self.query.stop()
        # drain: a fixed backlog lands while the query is down (an outage),
        # and the restarted query takes all of it in its first micro-batch;
        # landed into a running query it would split across a trigger
        # boundary in some runs and not in others
        for j in range(STREAM_BACKLOG):
            self._drop(n + 1 + j)
        with self.tracer.span("stream.drain"):
            self._start_query()
            self._wait_processed(STREAM_BACKLOG)
        drain = [p for p in self.query.recentProgress if p["numInputRows"]]
        self.query.stop()
        log("drain done")
        batches = self._batch_times(progress)
        lat = [batches[f][1] - due_at[f] for f in range(1, len(due_at))
               if due_at[f] >= t_warm]
        drain_s = sum(p["durationMs"]["triggerExecution"] for p in drain) / 1000.0
        ok = self._check()
        layer = self._layer(progress, backlog, late_by)
        layer["stream_job_group"] = run_id  # Spark job group of its batches
        # throughput: status rows per CPU second of the timed batches; per
        # wall second of the drain per layer
        return Result(setups, batch_cpu, batch_rows / sum(batch_cpu), lat,
                      STREAM_BACKLOG * STREAM_STATIONS / drain_s,
                      len(due_at), 0 if ok else 1, layer, open_wall)

    @staticmethod
    def _batch_times(progress) -> list[tuple[float, float]]:
        """(start, commit) epoch of the micro-batch that took each input
        file, in landing order: files are taken in arrival order, so the
        cumulative input count of the batches maps files to batches."""
        out: list[tuple[float, float]] = []
        for p in sorted(progress, key=lambda p: p["batchId"]):
            if not p["numInputRows"]:
                continue
            start = dt.datetime.fromisoformat(
                p["timestamp"].replace("Z", "+00:00")).timestamp()
            done = start + p["durationMs"]["triggerExecution"] / 1000.0
            out += [(start, done)] * p["numInputRows"]
        return out

    def _check(self) -> bool:
        """Sink rows equal the distinct (station_id, report_time) pairs of
        every landed payload, each pair once; stations in the dim are
        enriched."""
        import pyarrow.parquet as pq

        sink = pq.read_table(self.dirs["out"],
                             columns=["station_id", "report_time", "station_name"])
        got = list(zip(sink.column("station_id").to_pylist(),
                       sink.column("report_time").to_pylist()))
        expect = {pair for i in set(self.landed) for pair in self.pairs[i]}
        got_pairs = {(s, int(t.replace(tzinfo=dt.timezone.utc).timestamp()))
                     for s, t in got}
        in_dim = {s["station_id"] for s in self.feed.information()["data"]["stations"]}
        names = sink.column("station_name").to_pylist()
        enriched = all((n is not None) == (s in in_dim)
                       for (s, _t), n in zip(got, names))
        return len(got) == len(expect) and got_pairs == expect and enriched

    def _layer(self, progress, backlog: int, late_by: list[float]) -> dict:
        def p50(key):
            return median([p["durationMs"].get(key, 0) for p in progress
                           if p["numInputRows"]])

        busy = [p for p in progress if p["numInputRows"]]
        state = [p["stateOperators"][0] for p in busy if p.get("stateOperators")]
        return {
            "stream.trigger_ms.p50": p50("triggerExecution"),
            "stream.add_batch_ms.p50": p50("addBatch"),
            "stream.latest_offset_ms.p50": p50("latestOffset"),
            "stream.query_planning_ms.p50": p50("queryPlanning"),
            "stream.wal_commit_ms.p50": p50("walCommit"),
            "stream.commit_offsets_ms.p50": p50("commitOffsets"),
            "stream.rows_per_batch": median([p["numInputRows"] for p in busy]),
            "stream.state_rows": max((s["numRowsTotal"] for s in state), default=0),
            "stream.rows_dropped_by_watermark":
                sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
            "stream.backlog_files": backlog,
            "stream.batches": len(busy),
            "stream.generator_late_s.p50": median(late_by),
        }


WORKLOADS = {
    "gbfs_minutely": GbfsMinutely,
    "status_stream": StatusStream,
}
