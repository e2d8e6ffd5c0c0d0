"""The two workloads. Each stages seeded input, starts one Spark session
pinned to this machine's cores, warms up untimed, measures, checks every
output and prints the result line.

End-to-end metrics (every workload reports all of them):
  setup_s                     process start to the first timed operation,
                              generator file writing excluded
  ingest_blocks_per_s         backlog_query: blocks / median catch-up drain;
                              ingest_tip: blocks made visible per second
                              (the feeder's offered load while the sink
                              keeps up)
  lake_bytes_per_payload_byte finalized Parquet bytes / staged payload bytes
  op_p50_s                    backlog_query: mean of the catalog queries'
                              and the range probes' medians, each query
                              taken at its median over the rounds;
                              ingest_tip: median over the fed files, from
                              a file's due time until every range it
                              closes is visible
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from statistics import median

import checks
import gen
import instrument
from stats import Recorder, percentile, result_line, summarize

# backlog_query: catch-up drains at the reference's 5000-block ranges; 12
# files of 100 blocks drain in two triggers (8 + 4 files at the program's
# default max_files_per_trigger). The write path is still warming up over
# the first few drains of a session, so WARM_DRAINS untimed ones run in
# set-up, beside the cold query pass
BACKLOG_BLOCKS = 1200
BACKLOG_PER_FILE = 100
BACKLOG_PARTITION = 5000
WARM_DRAINS = 3
MIN_DRAINS = 4
DRAINS_PER_ROUND = 2
# ingest_tip: an open-loop feeder well below the sustainable rate, with
# whole-second gaps drawn from the seed. Spark's processing-time trigger
# fires on whole multiples of its 1 s interval in wall-clock time; every file
# is fed half-way between two ticks, so each waits the mean tick wait and
# its latency varies with the program's trigger cost, not with where the
# schedule happened to fall.
TIP_GAPS_S = (4, 5)
TIP_BLOCKS_PER_FILE = 20
TIP_PARTITION = 10
TIP_HOLDBACK = 5
TIP_WARM_FILES = 3
TIP_VISIBLE_TIMEOUT_S = 30.0
# backlog_query, reads: a lake with many range files, and catalog tables
LAKE_BLOCKS = 500
LAKE_PER_FILE = 250
LAKE_PARTITION = 50
LINEITEM_ROWS = 10000
SETUP_THREADS = 3
MIN_ROUNDS = 2
# every round probes each table at each width once; only the positions
# are drawn from the seed, so all seeds read the same mix
PROBE_SHAPES = tuple((child, width) for child in (False, True)
                     for width in (0, 25, 50, 100, 200))
QUERIES = ("q_scan", "q_agg_basic", "q_join_inner", "q_join_asof", "q_win_rank",
           "q_topk", "q_dedup_exact", "q_dedup_minhash", "q_sim_topk",
           "q_text_stats", "q_text_bm25")
CATALOG_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
QUERY_LAYERS = {"operators": "operators.query_s", "llm.dedup": "llm.dedup.query_s",
                "llm.similarity": "llm.similarity.query_s", "llm.text": "llm.text.query_s"}

E2E_UNITS = {"setup_s": "s", "ingest_blocks_per_s": "blocks/s",
             "lake_bytes_per_payload_byte": "ratio", "op_p50_s": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "session.gc_ms": "ms",
    "memory.peak_rss_mb": "MB", "memory.rss_median_mb": "MB",
    "sources.feeder_late_max_s": "s", "sources.backlog_files_max": "count",
    "streaming.trigger_overhead_ms": "ms", "stream_sink.add_batch_ms": "ms",
    "stream_sink.batches": "count", "stream_sink.process_batch_busy_s": "s",
    "stream_sink.process_batch_p50_s": "s", "stream_sink.self_s": "s",
    "stream_sink.close_s": "s",
    "decode.busy_s": "s", "decode.rows": "count", "decode.rows_per_s": "rows/s",
    "sink.explode.child_rows": "count",
    "sink.writer.busy_s": "s", "sink.writer.files": "count", "sink.writer.bytes": "bytes",
    "sink.writer.rows_per_file": "rows",
    "fsio.busy_s": "s",
    **{f"fsio.calls.{m}": "count" for m in instrument.FS_METHODS},
    "read_lake.list_s": "s", "read_lake.files_selected": "count",
    "read_lake.prune_ratio": "ratio",
    "spark.stages": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "catalog.jobs_per_query": "count",
    **{v: "s" for v in QUERY_LAYERS.values()},
}


def file_url(path: str) -> str:
    return "file://" + os.path.abspath(path)


class Run:
    """State of one benchmark run: session, counters, spans, results."""

    def __init__(self, args, work: str, t_start: float):
        self.args = args
        self.work = work
        self.t_start = t_start
        self.rec = Recorder(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0.0)
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace}
        self.spark = None
        self.sampler = None
        self.stages = None
        self.progress = None
        self.named_latency: dict[str, dict] = {}
        self.marks: dict[str, float] = {}
        self.reads: list[tuple[float, int, float]] = []
        self._lock = threading.Lock()
        self.stopped = False

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def mark(self, name: str) -> None:
        """Wall-clock milestone since process start, for the detail line."""
        self.marks[name] = round(time.perf_counter() - self.t_start, 3)

    def generate(self, fn, *a):
        t0 = time.perf_counter()
        out = fn(*a)
        self.gen_s += time.perf_counter() - t0
        return out

    def record(self, problems: list[str]) -> bool:
        with self._lock:
            self.attempted += 1
            if problems:
                self.failed += 1
                self.problems.extend(problems[:3])
        return not problems

    def attempt(self, what: str, fn, *a):
        """Run one operation; an exception counts it as failed."""
        try:
            return fn(*a)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.record([f"{what} raised"])
            return None

    # -- session ------------------------------------------------------------

    def start_session(self):
        if self.args.trace:
            instrument.install_spans(self.rec)
        from substreams_sink_parquet_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        })
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.mark("session_started")
        self.spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.sampler = instrument.RssSampler(jvm_pid).start()
        if self.args.trace:
            self.stages = instrument.StageTotals(self.spark)
            self.progress = instrument.ProgressLog(self.spark)
        return self.spark

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.t_start - self.gen_s
        self.mark("setup_done")
        self.t_setup = self.rec.since = time.perf_counter()
        self.cpu0 = instrument.cpu_times()
        self.gc0 = instrument.gc_ms(self.spark)
        if self.stages:
            self.stages.mark()

    # -- ingest -------------------------------------------------------------

    def drain(self, in_dir: str, lake: str, ckpt: str, partition_size: int) -> float:
        """Catch-up drain of everything staged: query start until close()
        returns with every range finalized. Returns its wall time."""
        from substreams_sink_parquet_spark.sink.writer import WriterOptions
        from substreams_sink_parquet_spark.streaming.stream_sink import run_pipeline

        t0 = time.perf_counter()
        query, sink = run_pipeline(
            self.spark, in_dir, file_url(lake), gen.BLOCK, file_url(ckpt),
            opts=WriterOptions(partition_size=partition_size), explode=True,
            available_now=True)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"drain failed: {query.exception()}")
        sink.close()
        return time.perf_counter() - t0

    def trace_decode_and_write(self, in_dir: str, truth: gen.ChainTruth,
                               partition_size: int) -> None:
        """Per-layer probes on the staged input: decode alone into the noop
        sink, then write_ranges alone over the persisted decode."""
        from substreams_sink_parquet_spark.decode import decode_payloads
        from substreams_sink_parquet_spark.sink.explode import explode_all
        from substreams_sink_parquet_spark.sink.writer import WriterOptions, write_ranges

        raw = self.spark.read.parquet(in_dir)
        t0 = time.perf_counter()
        decode_payloads(raw, gen.BLOCK).write.format("noop").mode("overwrite").save()
        busy = time.perf_counter() - t0
        self.layer.update({"decode.busy_s": busy, "decode.rows": truth.non_nil,
                           "decode.rows_per_s": truth.non_nil / busy})
        decoded = decode_payloads(raw, gen.BLOCK).persist()
        try:
            decoded.count()
            child_rows = explode_all(decoded, gen.BLOCK)[gen.CHILD_TABLE].count()
            self.layer["sink.explode.child_rows"] = child_rows
            self.record([] if child_rows == truth.child_rows else
                        [f"explode gave {child_rows} rows, truth {truth.child_rows}"])
            out = self.path("writer_probe")
            t0 = time.perf_counter()
            write_ranges(decoded, file_url(out), WriterOptions(partition_size=partition_size))
            self.layer["sink.writer.busy_s"] = time.perf_counter() - t0
        finally:
            decoded.unpersist()
        files = checks.range_files(out)
        self.layer["sink.writer.files"] = len(files)
        self.layer["sink.writer.bytes"] = sum(
            os.path.getsize(os.path.join(out, n)) for n in files)
        self.layer["sink.writer.rows_per_file"] = truth.non_nil / max(len(files), 1)

    # -- reads --------------------------------------------------------------

    def probe(self, lake: str, truth: gen.ChainTruth, rng: random.Random,
              child: bool, width: int) -> float | None:
        """One read_lake probe of ``width + 1`` blocks at a seeded position,
        collected; checked against truth."""
        from substreams_sink_parquet_spark.sink.writer import read_lake

        table = os.path.join(lake, gen.CHILD_TABLE) if child else lake
        lo = rng.randrange(truth.first_block, truth.first_block + truth.blocks - width)
        hi = lo + width
        t0 = time.perf_counter()
        df = read_lake(self.spark, file_url(table), lo, hi)
        t_list = time.perf_counter() - t0
        rows = df.collect()
        dt = time.perf_counter() - t0
        want = truth.rows_between(lo, hi)[1 if child else 0]
        self.record([] if len(rows) == want else
                    [f"probe {table} [{lo},{hi}] gave {len(rows)} rows, truth {want}"])
        if self.args.trace:
            selected = len(df.inputFiles())
            listed = len(checks.range_files(table))
            self.reads.append((t_list, selected, selected / max(listed, 1)))
        return dt

    # -- finish -------------------------------------------------------------

    def window_done(self) -> None:
        """End of the measured part: per-layer totals cover it and nothing
        the traced run does afterwards."""
        self.mark("measured")
        self.t_measured = time.perf_counter()
        # a shared host shows here: the share of CPU time the hypervisor gave
        # to other guests while this run measured
        self.detail["cpu_steal_share"] = instrument.steal_share(self.cpu0, instrument.cpu_times())
        self.layer["session.gc_ms"] = instrument.gc_ms(self.spark) - self.gc0
        if self.stages:
            tot = self.stages.totals()
            self.layer.update({
                "spark.stages": tot["stages"], "spark.tasks": tot["numTasks"],
                "spark.executor_run_s": tot["executorRunTime"] / 1000.0,
                "spark.shuffle_write_bytes": tot["shuffleWriteBytes"],
                "spark.input_bytes": tot["inputBytes"],
                "spark.output_bytes": tot["outputBytes"]})
        if self.progress:
            over, add = self.progress.overhead_ms(), self.progress.add_batch_ms()
            self.layer["streaming.trigger_overhead_ms"] = percentile(over, 0.5) if over else 0.0
            self.layer["stream_sink.add_batch_ms"] = percentile(add, 0.5) if add else 0.0
            self.progress.close()
        if self.args.trace:
            self.layer.update(instrument.layer_metrics(self.rec))

    def finish(self) -> int:
        self.layer["memory.peak_rss_mb"] = self.sampler.stop()
        self.layer["memory.rss_median_mb"] = self.sampler.median_mb(self.t_setup, self.t_measured)
        self.detail["peak_rss_jvm_mb"] = self.sampler.peak_kb.get(self.sampler.jvm_pid, 0) / 1024
        self.detail["processes_seen"] = len(self.sampler.peak_kb)
        self.detail["memory"] = {k: self.layer[k] for k in ("memory.peak_rss_mb",
                                                            "memory.rss_median_mb")}
        instrument.stop_spark(self.spark)
        self.stopped = True
        self.mark("stopped")
        named = {"setup_s": self.e2e["setup_s"],
                 "peak_rss_mb": self.layer["memory.peak_rss_mb"],
                 "failed_op_share": self.failed / self.attempted,
                 **{k: self.e2e[k] for k in ("ingest_blocks_per_s",
                                             "lake_bytes_per_payload_byte")}}
        for prefix, s in self.named_latency.items():
            named[f"{prefix}_p50_s"] = s["p50"]
            named[f"{prefix}_p90_s"] = s["p90"]
        self.detail.update({
            "named": named, "e2e": self.e2e, "attempted": self.attempted,
            "failed": self.failed,
            "problems": self.problems[:10], "generator_s": self.gen_s,
            "marks": self.marks})
        if self.args.trace:
            self.detail["spans"] = len(self.rec.closed())
        print(json.dumps(self.detail, default=float))
        if self.args.trace:
            metrics = {k: (v, LAYER_UNITS[k]) for k, v in self.layer.items()}
        else:
            metrics = {k: (self.e2e[k], u) for k, u in E2E_UNITS.items()}
        print(result_line(self.failed == 0, self.attempted, self.failed, metrics), flush=True)
        return 0


# -- ingest_tip -------------------------------------------------------------------

class Feeder(threading.Thread):
    """Open-loop feeder: moves pre-generated files ``first..`` into the
    staging directory at their due times, however far behind the sink is.
    ``offsets[i]`` is file i's due time in seconds after the schedule opens
    (the warm-up files have none)."""

    def __init__(self, hold: str, in_dir: str, first: int, offsets: dict[int, float]):
        super().__init__(daemon=True)
        self.hold, self.in_dir, self.first, self.offsets = hold, in_dir, first, offsets
        self.t0 = 0.0
        self.fed_at: dict[int, float] = {}

    def due(self, i: int) -> float:
        return self.t0 + self.offsets[i]

    def move(self, i: int) -> None:
        name = f"part-{i:06d}.parquet"
        os.replace(os.path.join(self.hold, name), os.path.join(self.in_dir, name))
        self.fed_at[i] = time.perf_counter()

    def run(self) -> None:
        for i in sorted(self.offsets):
            wait = self.due(i) - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.move(i)

    def start_at(self, t0: float) -> None:
        self.t0 = t0
        self.start()


def tip_schedule(seed: int, seconds: float) -> dict[int, float]:
    """Due time (seconds after the window opens) of every file fed inside
    the window: the first at the opening, then seeded gaps from TIP_GAPS_S."""
    rng = random.Random(seed)
    offsets, t, i = {}, 0, TIP_WARM_FILES
    while t < seconds:
        offsets[i] = float(t)
        t += rng.choice(TIP_GAPS_S)
        i += 1
    return offsets


def next_half_second() -> float:
    """The perf_counter time of the next wall-clock x.5 s at least half a
    second away: half-way between two ticks of a 1 s trigger."""
    wall, now = time.time(), time.perf_counter()
    target = math.floor(wall) + 1.5
    if target - wall < 0.5:
        target += 1
    return now + (target - wall)


class VisibilityPoller(threading.Thread):
    """Records when each range file is listed in both lake tables."""

    def __init__(self, lake: str):
        super().__init__(daemon=True)
        self.lake = lake
        self.seen: dict[int, float] = {}
        self.stop_event = threading.Event()

    def poll(self) -> None:
        from substreams_sink_parquet_spark.sink.writer import _split_range_name

        now = time.perf_counter()
        found = []
        for d in (self.lake, os.path.join(self.lake, gen.CHILD_TABLE)):
            try:
                names = os.listdir(d)
            except FileNotFoundError:
                return
            found.append({p[0] for p in map(_split_range_name, names) if p})
        for rs in found[0] & found[1]:
            self.seen.setdefault(rs, now)

    def run(self) -> None:
        while not self.stop_event.wait(0.02):
            self.poll()


def ingest_tip(r: Run) -> None:
    from substreams_sink_parquet_spark.sink.writer import WriterOptions
    from substreams_sink_parquet_spark.streaming.stream_sink import run_pipeline

    seconds = r.args.seconds
    offsets = tip_schedule(r.args.seed, seconds)
    n_files = TIP_WARM_FILES + len(offsets)
    hold, in_dir = r.path("hold"), r.path("in")
    os.makedirs(hold)
    os.makedirs(in_dir)
    chain = gen.Chain(r.args.seed, n_files * TIP_BLOCKS_PER_FILE, TIP_BLOCKS_PER_FILE)

    def pregenerate():
        for i in range(n_files):
            chain.write_file(hold, i)

    r.generate(pregenerate)
    truth = chain.truth
    lake, ckpt = r.path("lake"), r.path("ckpt")
    r.start_session()
    os.makedirs(lake)
    poller = VisibilityPoller(lake)
    poller.start()
    feeder = Feeder(hold, in_dir, TIP_WARM_FILES, offsets)
    # warm-up, untimed before the schedule starts: one file per trigger, as
    # the first few triggers of a fresh query run slower than the rest
    feeder.move(0)
    query, sink = run_pipeline(
        r.spark, in_dir, file_url(lake), gen.BLOCK, file_url(ckpt),
        opts=WriterOptions(partition_size=TIP_PARTITION), undo_holdback=TIP_HOLDBACK,
        explode=True, available_now=False, flush_interval="1 second")
    query.processAllAvailable()
    for i in range(1, TIP_WARM_FILES):
        feeder.move(i)
        query.processAllAvailable()
    r.mark("warm_drained")
    r.setup_done()
    feeder.start_at(next_half_second())
    t_window = feeder.t0
    feeder.join(timeout=seconds + 30)

    # the ranges whose closing block (range_end - 1 + holdback) each file
    # carries: they can only become visible once that file is fed
    closing: dict[int, list[int]] = {i: [] for i in offsets}
    for rs in range(0, truth.blocks, TIP_PARTITION):
        i = (rs + TIP_PARTITION - 1 + TIP_HOLDBACK) // TIP_BLOCKS_PER_FILE
        if i in closing:
            closing[i].append(rs)
    window = [rs for ranges in closing.values() for rs in ranges]
    deadline = time.perf_counter() + TIP_VISIBLE_TIMEOUT_S
    while time.perf_counter() < deadline and not all(rs in poller.seen for rs in window):
        if query.exception() is not None:
            break
        time.sleep(0.05)
    poller.stop_event.set()
    poller.join(timeout=5)
    for rs in window:
        r.record([] if rs in poller.seen else [f"range {rs} never became visible"])
    # one sample per fed file: from its due time until every range it closes
    # is listed in both tables
    latencies = [max(poller.seen[rs] for rs in ranges) - feeder.due(i)
                 for i, ranges in closing.items()
                 if ranges and all(rs in poller.seen for rs in ranges)]
    # ranges listed within half a second of each other became visible in
    # the same trigger: the independent observations behind the percentiles
    seen = sorted(poller.seen[rs] for rs in window if rs in poller.seen)
    triggers = sum(1 for k, t in enumerate(seen) if k == 0 or t - seen[k - 1] > 0.5)
    # offered load, as the sink kept up with it: every range listed from the
    # opening of the window until the last range due inside it became visible
    t_end = max((poller.seen[rs] for rs in window if rs in poller.seen), default=None)
    visible = sum(1 for t in poller.seen.values() if t_end and t_window <= t <= t_end)

    def finish_stream():
        query.processAllAvailable()
        query.stop()
        sink.close()
        return True

    if r.attempt("stream", finish_stream):
        r.record(checks.check_lake(lake, truth))
    r.window_done()
    lateness = [a - feeder.due(i) for i, a in feeder.fed_at.items() if i >= feeder.first]
    r.layer["sources.feeder_late_max_s"] = max(lateness)
    if r.progress:
        # files staged but not yet consumed when each trigger started
        consumed = 0
        backlog = []
        for t_ev, n_rows, d in r.progress.events:
            t_trigger = t_ev - d.get("triggerExecution", 0) / 1000
            fed = sum(1 for a in feeder.fed_at.values() if a <= t_trigger)
            backlog.append(fed - consumed / TIP_BLOCKS_PER_FILE)
            consumed += n_rows
        r.layer["sources.backlog_files_max"] = max(backlog, default=0.0)
    if not latencies:
        raise RuntimeError("no file in the window became visible")
    s = summarize(latencies)
    r.e2e.update({
        "ingest_blocks_per_s": visible * TIP_PARTITION / (t_end - t_window),
        "lake_bytes_per_payload_byte": checks.lake_bytes(lake) / truth.payload_bytes,
        "op_p50_s": s["p50"]})
    r.named_latency["tip_visible"] = s
    r.detail.update({"truth": truth.as_record(), "window_files": len(offsets),
                     "window_ranges": len(window), "tip_triggers": triggers,
                     "tip_visible_s": latencies,
                     "tip_visible": s, "feeder_late_max_s": max(lateness)})
    if r.args.trace:
        r.trace_decode_and_write(r.path("in"), truth, TIP_PARTITION)


# -- backlog_query ----------------------------------------------------------------

def backlog_query(r: Run) -> None:
    from substreams_sink_parquet_spark import catalog

    seed = r.args.seed
    sf_dir, lake = r.path("tables"), r.path("lake")
    backlog_in, lake_in = r.path("backlog_in"), r.path("lake_in")
    r.generate(gen.write_catalog, sf_dir, seed, LINEITEM_ROWS)
    backlog = r.generate(gen.stage_chain, backlog_in, seed, BACKLOG_BLOCKS, BACKLOG_PER_FILE)
    truth = r.generate(gen.stage_chain, lake_in, seed + 1, LAKE_BLOCKS, LAKE_PER_FILE)
    r.start_session()
    registry = catalog.registry()
    oracle = checks.oracle_connection(sf_dir, CATALOG_TABLES)
    drains, ratios = [], []

    def drain(name: str) -> float | None:
        """One checked catch-up drain of the backlog chain; its wall time,
        or None if it failed."""
        out = r.path(name)
        dt = r.attempt("drain", r.drain, backlog_in, out, r.path(f"{name}_ckpt"),
                       BACKLOG_PARTITION)
        if dt is None or not r.record(checks.check_lake(out, backlog)):
            return None
        ratios.append(checks.lake_bytes(out) / backlog.payload_bytes)
        return dt

    def write_side() -> bool:
        r.drain(lake_in, lake, r.path("lake_ckpt"), LAKE_PARTITION)
        ok = r.record(checks.check_lake(lake, truth))
        for k in range(WARM_DRAINS):
            drain(f"warm{k}")
        return ok

    def warm(name: str) -> None:
        # the untimed first pass of each query is also its oracle check
        spec = registry[name]
        pdf = spec.fn(r.spark, sf_dir).toPandas()
        r.record(checks.check_against_oracle(name, pdf, oracle.cursor(), spec.oracle))

    # set-up runs side by side: the cold drain that writes the probed lake,
    # then the untimed warm drains, beside the cold first pass of every
    # query, which is mostly single-threaded planning and code generation
    with ThreadPoolExecutor(SETUP_THREADS) as pool:
        written = pool.submit(r.attempt, "ingest", write_side)
        list(pool.map(lambda n: r.attempt(n, warm, n), QUERIES))
        lake_ok = written.result()
    r.mark("warmed")
    oracle.close()
    r.spark.catalog.clearCache()
    if not lake_ok:
        raise RuntimeError("the probed lake could not be ingested")
    ratios.clear()
    rng = random.Random(seed)
    for child in (False, True):
        r.probe(lake, truth, rng, child, PROBE_SHAPES[-1][1])
    r.reads.clear()
    r.setup_done()

    # measured: pairs of catch-up drains alternate with rounds of reads,
    # until --seconds have passed and each has its minimum count; a burst of
    # contention on the host then falls on both.
    # A round is one client running every catalog query (noop sink) and
    # every probe shape (collected) once, in an order shuffled by the seed.
    query_s: dict[str, list[float]] = {n: [] for n in QUERIES}
    probe_s: list[float] = []
    jobs: list[int] = []
    tracker = r.spark.sparkContext.statusTracker()
    t_measure = time.perf_counter()
    n_drains = rounds = 0

    def read_round() -> None:
        ops = [("q", n) for n in QUERIES] + [("p", shape) for shape in PROBE_SHAPES]
        rng.shuffle(ops)
        for kind, what in ops:
            if kind == "p":
                dt = r.attempt("probe", r.probe, lake, truth, rng, *what)
                if dt is not None:
                    probe_s.append(dt)
                continue
            group = f"perfbench-{rounds}-{what}"
            if r.args.trace:
                r.spark.sparkContext.setJobGroup(group, what)
            t0 = time.perf_counter()
            ok = r.attempt(what, lambda: registry[what].fn(r.spark, sf_dir)
                           .write.format("noop").mode("overwrite").save() or True)
            dt = time.perf_counter() - t0
            r.spark.catalog.clearCache()
            if ok:
                r.record([])
                query_s[what].append(dt)
                if r.args.trace:
                    jobs.append(len(tracker.getJobIdsForGroup(group)))

    while (n_drains < MIN_DRAINS or rounds < MIN_ROUNDS
           or time.perf_counter() - t_measure < r.args.seconds):
        if n_drains < DRAINS_PER_ROUND * (rounds + 1):
            dt = drain(f"backlog{n_drains}")
            n_drains += 1
            if dt is not None:
                drains.append(dt)
            elif not drains and n_drains >= MIN_DRAINS + 2:
                raise RuntimeError("no backlog drain succeeded")
        else:
            read_round()
            rounds += 1
    r.window_done()

    # a query's latency is its median over the rounds; the eleven queries
    # and the probes are separate populations, summarized apart and then
    # given equal weight
    per_query = {n: median(v) for n, v in query_s.items() if v}
    if not per_query or not probe_s or not drains:
        raise RuntimeError("no drain, no query or no probe completed")
    qs, ps, ds = summarize(list(per_query.values())), summarize(probe_s), summarize(drains)
    r.e2e.update({
        "ingest_blocks_per_s": backlog.blocks / ds["p50"],
        "lake_bytes_per_payload_byte": median(ratios),
        "op_p50_s": (qs["p50"] + ps["p50"]) / 2})
    r.named_latency.update({"query": qs, "probe": ps, "drain": ds})
    r.detail.update({"truth": backlog.as_record(), "drain_s": drains, "rounds": rounds,
                     "query_median_by_name": per_query})
    if r.args.trace:
        if r.reads:
            r.layer["read_lake.list_s"] = median(x[0] for x in r.reads)
            r.layer["read_lake.files_selected"] = median(x[1] for x in r.reads)
            r.layer["read_lake.prune_ratio"] = median(x[2] for x in r.reads)
        r.layer["catalog.jobs_per_query"] = sum(jobs) / max(len(jobs), 1)
        for prefix, metric in QUERY_LAYERS.items():
            ts = [t for n, v in query_s.items()
                  if registry[n].fn.__module__.split(".", 1)[1].startswith(prefix)
                  for t in v]
            r.layer[metric] = median(ts) if ts else 0.0
        r.trace_decode_and_write(backlog_in, backlog, BACKLOG_PARTITION)


def run(args, work: str, t_start: float) -> int:
    r = Run(args, work, t_start)
    body = {"backlog_query": backlog_query, "ingest_tip": ingest_tip}[args.workload]
    try:
        body(r)
        return r.finish()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if r.spark is not None and not r.stopped:
            instrument.stop_spark(r.spark)
