"""dw_stream: the paper's real-time warehouse job, driven open loop.

A generator thread releases pre-generated ODS files (nested log JSONL,
Debezium CDC JSONL, order_info/order_detail parquet) on a fixed schedule,
whatever the pipeline is doing. Each app runs its own tick loop,
concurrently with the others: whenever its input has new files it runs an
availableNow query over whatever has arrived, and the next tick takes what
arrived meanwhile.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)

from gmall_flink_yb_spark.functions.dedup import incremental_lsh_dedup
from gmall_flink_yb_spark.operators.bounce import detect_bounce_batch
from gmall_flink_yb_spark.operators.log_split import split_log_stream
from gmall_flink_yb_spark.operators.visitor import unique_visitors_batch
from gmall_flink_yb_spark.schemas import TABLE_PROCESS_SCHEMA
from gmall_flink_yb_spark.sources.cdc import debezium_to_envelope
from gmall_flink_yb_spark.sources.readers import parse_log_stream
from gmall_flink_yb_spark.streaming.pipelines import (
    order_wide_stream,
    read_dim_parquet,
    read_file_stream,
    start_cdc_routing,
    start_incremental_dedup_stream,
    start_log_split_fanout,
    unique_visitors_stream,
)
from gmall_flink_yb_spark.streaming.stateful import (
    correct_is_new_stream,
    detect_bounce_stream,
)

from perfbench import common, gen

STREAMS = ("log", "cdc", "order_info", "order_detail", "docs")
PREFIX = {"log": "log-", "cdc": "cdc-", "order_info": "oi-",
          "order_detail": "od-", "docs": "doc-"}
APP_STREAMS = {
    "dwd_split": ("log",),
    "dwm_is_new": ("log",),
    "dwm_uv": ("log",),
    "dwm_bounce": ("log",),
    "ods_cdc_route": ("cdc",),
    "dwm_order_wide": ("order_info", "order_detail"),
    "corpus_ingest": ("docs",),
}
APPS = tuple(APP_STREAMS)
STATEFUL_APPS = ("dwm_is_new", "dwm_uv", "dwm_bounce", "dwm_order_wide")
TAIL_PCT = 99.0
DIM_MANIFEST = "_dim_manifest-"
# a run that has not drained this long after the schedule ends has failed
GIVE_UP_S = 50.0

INFO_SCHEMA = StructType([
    StructField("id", LongType()), StructField("user_id", LongType()),
    StructField("province_id", LongType()),
    StructField("total_amount", DoubleType()),
    StructField("create_ts", TimestampType()),
])
DOC_SCHEMA = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
DETAIL_SCHEMA = StructType([
    StructField("detail_id", LongType()), StructField("order_id", LongType()),
    StructField("sku_id", LongType()), StructField("sku_num", LongType()),
    StructField("create_ts", TimestampType()),
])


def _flat(clean):
    return clean.select(
        F.col("common.mid").alias("mid"),
        F.timestamp_millis(F.col("ts")).alias("ts"),
        F.col("common.is_new").alias("is_new"),
    )


def _flat_pages(clean):
    return clean.filter(
        F.col("page").isNotNull() & F.col("start").isNull()
    ).select(
        F.col("common.mid").alias("mid"),
        F.timestamp_millis(F.col("ts")).alias("ts"),
        F.col("page.last_page_id").isNull().alias("is_entry"),
    )


def _progress_dicts(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _wall(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Releaser(threading.Thread):
    """Open-loop generator: moves staged files into the watched input dirs
    at ``t0 + due``; never waits for the pipeline."""

    def __init__(self, files, staging: str, in_dir: str, t0: float):
        super().__init__(daemon=True)
        self.files = sorted(files, key=lambda f: (f.due_s, f.name))
        self.staging, self.in_dir, self.t0 = staging, in_dir, t0
        self.released = {s: 0 for s in STREAMS}
        self.release_log: list[tuple[float, str, str]] = []  # (wall, stream, name)
        self.lag_max = 0.0
        self.lock = threading.Lock()
        self.done = threading.Event()

    def run(self) -> None:
        for f in self.files:
            wait = self.t0 + f.due_s - time.time()
            if wait > 0:
                time.sleep(wait)
            now = time.time()
            dst = os.path.join(self.in_dir, f.stream, f.name)
            os.rename(os.path.join(self.staging, f.stream, f.name), dst)
            os.utime(dst, (now, now))
            with self.lock:
                self.released[f.stream] += 1
                self.release_log.append((now, f.stream, f.name))
                self.lag_max = max(self.lag_max, now - (self.t0 + f.due_s))
        self.done.set()

    def release_extra(self, stream: str, name: str, line: str) -> None:
        tmp = os.path.join(self.in_dir, f".{name}")
        with open(tmp, "w") as f:
            f.write(line + "\n")
        os.rename(tmp, os.path.join(self.in_dir, stream, name))
        with self.lock:
            self.released[stream] += 1

    def counts(self) -> dict[str, int]:
        with self.lock:
            return dict(self.released)


class DwStream:
    name = "dw_stream"

    def __init__(self, seed: int, seconds: float):
        self.seed, self.seconds = seed, seconds

    # -- setup ------------------------------------------------------------

    def generate(self, work: str) -> None:
        self.inputs = gen.stream_inputs(self.seed, self.seconds)
        self.stage_root = os.path.join(work, "staging")
        for s in STREAMS:
            os.makedirs(os.path.join(self.stage_root, s), exist_ok=True)
        for f in self.inputs.files:
            with open(os.path.join(self.stage_root, f.stream, f.name), "wb") as fh:
                fh.write(f.payload)

    def prepare(self, spark, work: str) -> None:
        """The batch-form truth the checks compare the streams with, over
        the staged inputs, plus the watermark mover for the bounce and UV
        apps that read it (the same lines the streams will read). Computing
        it before the window also runs the batch forms of the apps'
        operators (JSON parse, split, bounce, UV, MinHash dedup) once, so
        the JVM compiles their shared code paths here rather than in the
        first tick."""
        mover = os.path.join(work, "mover.json")
        with open(mover, "w") as f:
            f.write(gen.watermark_mover_line(self.seconds) + "\n")
        real = spark.read.text(os.path.join(self.stage_root, "log"))
        clean, _dirty = parse_log_stream(real)
        pages = _flat_pages(parse_log_stream(
            real.unionByName(spark.read.text(mover)))[0])
        first = min(self.inputs.docs)
        split = split_log_stream(clean)
        jobs = {
            "dirty": lambda: parse_log_stream(real)[1].count(),
            "lines": real.count,
            "bounce": lambda: {(r["mid"], r["ts"]) for r in detect_bounce_batch(
                pages, "mid", "ts", F.col("is_entry"), 10)
                .select("mid", "ts").collect()},
            "uv": lambda: sorted(tuple(r) for r in unique_visitors_batch(
                pages, "mid", "ts", entry_filter=F.col("is_entry"))
                .groupBy("_uv_date").count().collect()),
            # the corpus truth depends on the batches the stream will cut;
            # the first docs file alone is the likely first batch
            "first_docs": lambda: (first, _dedup_kept(
                spark, [], self.inputs.docs[first])),
        }
        for name, part in split.items():
            jobs[f"split.{name}"] = part.count
        got = _in_parallel(jobs)
        self.truth = {k: v for k, v in got.items()
                      if not k.startswith("split.")}
        self.truth["split"] = {k[len("split."):]: v for k, v in got.items()
                               if k.startswith("split.")}

    # -- measured window ----------------------------------------------------

    def _start(self, spark, app: str, d: dict, tracer, sp):
        """Build the app's plan from its sources and start it availableNow."""
        ckpt = os.path.join(d["ckpt"], app)
        out = os.path.join(d["out"], app)
        with tracer.span("sources.build", parent=sp):
            if app == "corpus_ingest":
                docs = read_file_stream(spark, os.path.join(d["in"], "docs"),
                                        DOC_SCHEMA)
            elif app == "dwm_order_wide":
                info = read_file_stream(spark, os.path.join(d["in"], "order_info"),
                                        INFO_SCHEMA)
                detail = read_file_stream(
                    spark, os.path.join(d["in"], "order_detail"), DETAIL_SCHEMA)
            else:
                stream = "cdc" if app == "ods_cdc_route" else "log"
                raw = (spark.readStream.schema("value string").format("text")
                       .load(os.path.join(d["in"], stream)))
                if app == "ods_cdc_route":
                    env = debezium_to_envelope(raw)
                else:
                    clean, _dirty = parse_log_stream(raw)
        if app == "dwd_split":
            return start_log_split_fanout(clean, out, ckpt)
        if app == "corpus_ingest":
            return start_incremental_dedup_stream(
                spark, docs, os.path.join(out, "corpus"), ckpt,
                index_dir=os.path.join(out, "index"))
        if app == "ods_cdc_route":
            cfg_path = d["cfg"]
            return start_cdc_routing(
                env,
                lambda: spark.read.schema(TABLE_PROCESS_SCHEMA).json(cfg_path),
                out, ckpt)
        if app == "dwm_is_new":
            df = correct_is_new_stream(_flat(clean), "mid", "ts", "is_new")
        elif app == "dwm_uv":
            df = unique_visitors_stream(_flat_pages(clean), "mid", "ts",
                                        entry_filter=F.col("is_entry"))
        elif app == "dwm_bounce":
            df = detect_bounce_stream(
                _flat_pages(clean).withWatermark("ts", "1 second"),
                "mid", "ts", "is_entry", 10)
        else:
            df = order_wide_stream(info, detail).select(
                "id", "detail_id", "user_id", "sku_id", "sku_num")
        return (df.writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    def _run_app(self, spark, app, d, tracer, tick_sp, rec):
        with tracer.span(f"streaming.{app}", parent=tick_sp) as sp:
            t0 = time.time()
            q = self._start(spark, app, d, tracer, sp)
            t1 = time.time()
            try:
                q.awaitTermination()
                ok = True
            except Exception as exc:  # a failed batch is a failed op
                ok = False
                rec["errors"].append(f"{app}: {exc}")
            t2 = time.time()
        run = {"app": app, "start": t0, "started": t1, "end": t2, "ok": ok,
               "qid": str(q.id), "progress": _progress_dicts(q)}
        if app == "ods_cdc_route":
            _record_dim_gens(os.path.join(d["out"], app), t2, rec["dim_gens"])
        files = common.source_log_files(os.path.join(d["ckpt"], app))
        seen = {s: 0 for s in STREAMS}
        for per_src in files.values():
            for name in per_src:
                for s, p in PREFIX.items():
                    if name.startswith(p):
                        seen[s] += 1
        run["seen"] = seen
        rec["runs"].append(run)
        return seen

    def _dirs(self, run_dir: str) -> dict:
        d = {k: os.path.join(run_dir, k) for k in ("in", "out", "ckpt")}
        for s in STREAMS:
            os.makedirs(os.path.join(d["in"], s), exist_ok=True)
        d["cfg"] = os.path.join(run_dir, "table_process.json")
        with open(d["cfg"], "w") as f:
            for r in gen.table_process_rows():
                f.write(json.dumps(r) + "\n")
        return d

    def measure(self, spark, tracer, run_dir: str) -> dict:
        d = self._dirs(run_dir)
        staging = os.path.join(run_dir, "staging")
        shutil.copytree(self.stage_root, staging)
        rec = {"runs": [], "errors": [], "dim_gens": {}}
        t0 = time.time() + 0.2
        rel = Releaser(self.inputs.files, staging, d["in"], t0)
        drained = {a: threading.Event() for a in APPS}
        give_up = t0 + self.seconds + GIVE_UP_S

        def app_loop(app: str) -> None:
            """One app's own tick loop: run availableNow over whatever has
            arrived, as soon as the previous run ends."""
            consumed = {s: 0 for s in STREAMS}
            tick = 0
            while time.time() < give_up:
                # read the flag before the counts: once it is set, the
                # counts include every release
                done = rel.done.is_set()
                counts = rel.counts()
                if not any(counts[s] > consumed[s] for s in APP_STREAMS[app]):
                    if done:
                        drained[app].set()
                        return
                    time.sleep(0.02)
                    continue
                tick += 1
                try:
                    with tracer.span("dw_stream.tick",
                                     trace_id=f"{app}.{tick}") as sp:
                        seen = self._run_app(spark, app, d, tracer, sp, rec)
                except Exception as exc:  # a run that cannot start has failed
                    rec["errors"].append(f"{app}: {exc}")
                    seen = consumed
                if seen == consumed:
                    # a run that took nothing has failed: stop this app
                    rec["errors"].append(f"{app}: tick {tick} made no progress")
                    drained[app].set()
                    return
                consumed = seen

        threads = [threading.Thread(target=app_loop, args=(a,)) for a in APPS]
        rel.start()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        end_wall = time.time()
        rel.join()
        if all(ev.is_set() for ev in drained.values()):
            # every real event is committed: the window ends. The mover then
            # advances the bounce app's watermark (untimed): one run takes
            # it, and a run with no new data fires the timers it made due,
            # the trailing timeout bounces
            rel.release_extra("log", "log-mover.json",
                              gen.watermark_mover_line(self.seconds))
            for _ in range(2):
                self._run_app(spark, "dwm_bounce", d, tracer, None, rec)
        else:
            rec["errors"].append("pipeline did not drain the input in time")
        rec.update(t0=t0, end_wall=end_wall, dirs=d, generator=rel)
        return rec

    # -- results ------------------------------------------------------------

    def _commits(self, rec: dict) -> dict[str, dict[str, float]]:
        """app -> input file -> commit wall time of the batch that held it.
        A file source numbers its own batches (logOffset), which skip the
        query's no-data batches, so files are matched through the source
        offsets."""
        commit_of: dict[str, dict[str, float]] = {}
        for app in APPS:
            batch_commit = {}
            for r in rec["runs"]:
                if r["app"] != app:
                    continue
                for p in r["progress"]:
                    done = _wall(p["timestamp"]) + (
                        p["durationMs"].get("triggerExecution", 0) / 1000.0)
                    for src in p.get("sources", []):
                        end = src.get("endOffset")
                        if end and end != src.get("startOffset"):
                            stream = os.path.basename(
                                src["description"].rstrip("]"))
                            batch_commit[(stream, end["logOffset"])] = done
            files = {}
            for per_src in common.source_log_files(
                    os.path.join(rec["dirs"]["ckpt"], app)).values():
                for name, bid in per_src.items():
                    stream = next(s for s, p in PREFIX.items()
                                  if name.startswith(p))
                    if (stream, bid) in batch_commit:
                        files[name] = batch_commit[(stream, bid)]
            commit_of[app] = files
        return commit_of

    def _backlog(self, rec: dict, commit_of: dict) -> int:
        """Largest backlog in files over every app, sampled right after
        each release."""
        rel_log = rec["generator"].release_log
        worst = 0
        for app in APPS:
            mine = [(t, n) for t, s, n in rel_log if s in APP_STREAMS[app]]
            worst = max([worst, *common.backlog_series(
                [t for t, _ in mine],
                [commit_of[app][n] for _, n in mine if n in commit_of[app]])])
        return worst

    def results(self, rec: dict, tracer) -> tuple[dict, dict, int, int]:
        """(end-to-end values, per-layer values, attempted, failed)."""
        t0, end_wall = rec["t0"], rec["end_wall"]
        window_runs = [r for r in rec["runs"] if r["start"] < end_wall]
        commit_of = self._commits(rec)
        fresh_all: list[float] = []
        fresh_app: dict[str, list[float]] = {a: [] for a in APPS}
        events = 0
        for f in self.inputs.files:
            apps = [a for a in APPS if f.stream in APP_STREAMS[a]]
            commits = [commit_of[a].get(f.name) for a in apps]
            if any(c is None for c in commits) or not len(f.event_due_s):
                continue
            due = f.event_due_s.tolist()
            for a, c in zip(apps, commits):
                fresh_app[a].extend(common.freshness(due, [c - t0] * len(due)))
            fresh_all.extend(
                common.freshness(due, [max(commits) - t0] * len(due)))
            events += len(f.event_due_s)
        if not common.tail_supported(len(fresh_all), TAIL_PCT):
            rec["errors"].append(f"{len(fresh_all)} events do not support p{TAIL_PCT}")
        busy = common.busy_seconds([(r["start"], r["end"]) for r in window_runs])
        backlog_max = self._backlog(rec, commit_of)
        failed_runs = sum(1 for r in window_runs if not r["ok"])
        e2e = {
            "latency_p50_s": common.percentile(fresh_all, 50),
            "latency_tail_s": common.percentile(fresh_all, TAIL_PCT),
            "throughput_per_s": events / busy,
        }
        layer = self._layers(rec, window_runs, fresh_app, tracer)
        wall = end_wall - t0
        layer["streaming.backlog_files_max"] = float(backlog_max)
        layer["streaming.busy_fraction"] = busy / wall
        layer["bench.generator_lag_max_s"] = rec["generator"].lag_max
        last_release = max(t for t, _, _ in rec["generator"].release_log)
        rec["diag"] = {
            "events": events, "offered_per_s": events / self.seconds,
            "busy_fraction": round(busy / wall, 4),
            "backlog_files_max": backlog_max,
            "drain_s": round(end_wall - last_release, 3),
            "ticks": {a: sum(1 for r in window_runs if r["app"] == a)
                      for a in APPS},
            "tick_s_p50": {a: round(statistics.median(
                r["end"] - r["start"] for r in window_runs if r["app"] == a), 3)
                for a in APPS if any(r["app"] == a for r in window_runs)},
        }
        return e2e, layer, len(window_runs), failed_runs

    def _layers(self, rec, runs, fresh_app, tracer) -> dict:
        d = rec["dirs"]
        out: dict[str, float] = {}
        for app in APPS:
            mine = [r for r in runs if r["app"] == app]
            sums: dict[str, float] = {}
            for r in mine:
                for k, v in common.progress_sums(r["progress"]).items():
                    if k in ("state_rows", "state_bytes"):
                        sums[k] = v
                    else:
                        sums[k] = sums.get(k, 0.0) + v
            pre = f"streaming.{app}."
            out[pre + "start_s"] = sum(r["started"] - r["start"] for r in mine)
            for k in ("trigger_s", "add_batch_s", "planning_s", "offsets_s",
                      "commit_s"):
                out[pre + k] = sums.get(k, 0.0)
            out[pre + "rows_per_batch"] = (
                sums.get("rows", 0.0) / sums["batches"] if sums.get("batches")
                else 0.0)
            f = fresh_app.get(app) or []
            out[pre + "freshness_p50_s"] = common.percentile(f, 50) if f else 0.0
            if app in STATEFUL_APPS:
                sp = f"state.{app}."
                out[sp + "rows"] = sums.get("state_rows", 0.0)
                out[sp + "mb"] = sums.get("state_bytes", 0.0) / 2**20
                out[sp + "commit_s"] = sums.get("state_commit_s", 0.0)
                out[sp + "late_rows_dropped"] = sums.get("late_rows_dropped", 0.0)
        out["sources.build_s"] = tracer.total("sources.build")
        in_bytes = sum(len(f.payload) for f in self.inputs.files)
        out["sources.input_mb"] = in_bytes / 2**20
        out["sources.dirty_ratio"] = self.dirty_ratio
        n_files = n_bytes = 0
        for app in ("dwd_split", "dwm_is_new", "dwm_uv", "dwm_bounce",
                    "dwm_order_wide", "corpus_ingest"):
            a, b = common.dir_stats(os.path.join(d["out"], app))
            n_files += a
            n_bytes += b
        kafka = common.dir_stats(os.path.join(d["out"], "ods_cdc_route", "kafka_out"))
        out["sink.files_written"] = float(n_files + kafka[0])
        out["sink.mb_written"] = (n_bytes + kafka[1]) / 2**20
        out["ingest.admit_ratio"] = self.ingest["admit_ratio"]
        out["ingest.index_mb"] = common.dir_stats(
            os.path.join(d["out"], "corpus_ingest", "index"))[1] / 2**20
        secs = [r["end"] - r["start"] for r in
                sorted(runs, key=lambda r: r["start"])
                if r["app"] == "corpus_ingest"]
        out["ingest.batch_s_slope"] = (
            common.slope(list(range(len(secs))), secs) if len(secs) > 2 else 0.0)
        gens = [v for v in rec["dim_gens"].values() if v[0] < rec["end_wall"]]
        out["dim.buckets_touched_ratio"] = (
            sum(g[1] for g in gens) / len(gens) if gens else 0.0)
        out["dim.rewrite_mb"] = sum(g[2] for g in gens) / 2**20
        return out

    # -- correctness ----------------------------------------------------------

    def check(self, spark, rec: dict) -> list[str]:
        d, want = rec["dirs"], self.truth
        out = os.path.join(d["out"], "dwd_split")

        def dims() -> dict:
            return {tbl: {r["id"]: json.loads(r["payload"]) for r in
                          read_dim_parquet(spark, os.path.join(
                              d["out"], "ods_cdc_route", f"dim_{tbl}")).collect()}
                    for tbl in self.inputs.dims}

        jobs = {
            "bounce": lambda: {(r["mid"], r["ts"]) for r in spark.read.parquet(
                os.path.join(d["out"], "dwm_bounce")).select("mid", "ts").collect()},
            "uv": lambda: sorted(tuple(r) for r in spark.read.parquet(
                os.path.join(d["out"], "dwm_uv")).groupBy("_uv_date").count()
                .collect()),
            "dims": dims,
            "corpus": lambda: self._check_corpus(spark, rec),
        }
        for name in want["split"]:
            jobs[f"split.{name}"] = spark.read.parquet(
                os.path.join(out, f"dwd_{name}_log")).count
        got = _in_parallel(jobs)
        problems = list(rec["errors"])
        self.dirty_ratio = want["dirty"] / want["lines"]
        injected = self.inputs.malformed / self.inputs.log_lines
        if abs(self.dirty_ratio - injected) > 1e-12:
            problems.append(f"dirty ratio {self.dirty_ratio} != injected {injected}")
        for name, exp in want["split"].items():
            if got[f"split.{name}"] != exp:
                problems.append(f"dwd_{name}_log rows {got[f'split.{name}']} "
                                f"!= batch {exp}")
        if got["bounce"] != want["bounce"]:
            problems.append(f"bounce pairs differ: stream {len(got['bounce'])} "
                            f"batch {len(want['bounce'])} common "
                            f"{len(got['bounce'] & want['bounce'])}")
        if got["uv"] != want["uv"]:
            problems.append(f"daily uv {got['uv']} != batch {want['uv']}")
        for tbl, rows in self.inputs.dims.items():
            have = got["dims"][tbl]
            if have != rows:
                bad = sum(1 for k in rows if have.get(k) != rows[k])
                problems.append(f"dim {tbl}: {bad} of {len(rows)} pks not at "
                                f"their last version ({len(have)} rows read)")
        return problems + got["corpus"]

    def _check_corpus(self, spark, rec: dict) -> list[str]:
        """The admitted corpus must equal ``incremental_lsh_dedup`` replayed
        over the same micro-batches (the docs files each batch took)."""
        d = rec["dirs"]
        files: dict[int, list[str]] = {}
        for per_src in common.source_log_files(
                os.path.join(d["ckpt"], "corpus_ingest")).values():
            for name, bid in per_src.items():
                files.setdefault(bid, []).append(name)
        first, first_keep = self.truth["first_docs"]
        kept: list[tuple] = []
        for bid in sorted(files):
            batch = sorted(x for n in files[bid] for x in self.inputs.docs[n])
            keep = (first_keep if not kept and files[bid] == [first]
                    else _dedup_kept(spark, kept, batch))
            kept.extend(x for x in batch if x[0] in keep)
        got = {r["doc_id"] for r in spark.read.parquet(
            os.path.join(d["out"], "corpus_ingest", "corpus"))
            .select("doc_id").collect()}
        want = {x[0] for x in kept}
        offered = sum(len(b) for b in self.inputs.docs.values())
        self.ingest = {"admit_ratio": len(got) / offered}
        if got != want:
            return [f"corpus admits {len(got)} docs, replay admits "
                    f"{len(want)}; {len(got ^ want)} differ"]
        return []


def _dedup_kept(spark, kept: list[tuple], batch: list[tuple]) -> set:
    """Ids of ``batch`` that ``incremental_lsh_dedup`` admits against the
    corpus ``kept``."""
    verdicts = incremental_lsh_dedup(
        spark.createDataFrame(kept, DOC_SCHEMA),
        spark.createDataFrame(sorted(batch), DOC_SCHEMA),
        "doc_id", "text", threshold=0.5, broadcast_incoming=True)
    return {r["doc_id"] for r in verdicts.filter(F.col("keep") == 1)
            .select("doc_id").collect()}


def _in_parallel(jobs: dict) -> dict:
    """Run the untimed Spark actions of ``jobs`` (name -> callable) on as
    many threads as cores; their results by name."""
    with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
        futs = {k: pool.submit(f) for k, f in jobs.items()}
        return {k: f.result() for k, f in futs.items()}


def _record_dim_gens(base: str, at: float, seen: dict) -> None:
    """After a routing tick, for every dim generation published since the
    last one: (tick end, share of the table's buckets it rewrote, bytes it
    wrote). A dim manifest (``_dim_manifest-<gen>.json``) maps each bucket
    to the generation that last wrote it and records the bucket count."""
    for tbl in sorted(os.listdir(base)) if os.path.isdir(base) else []:
        path = os.path.join(base, tbl)
        if not tbl.startswith("dim_"):
            continue
        for name in sorted(os.listdir(path)):
            if not (name.startswith(DIM_MANIFEST) and name.endswith(".json")):
                continue
            g = int(name[len(DIM_MANIFEST):-len(".json")])
            if (tbl, g) in seen:
                continue
            with open(os.path.join(path, name)) as f:
                m = json.load(f)
            touched = sum(1 for v in m["buckets"].values() if int(v) == g)
            seen[(tbl, g)] = (at, touched / m["n_buckets"], common.dir_stats(
                os.path.join(path, f"gen={g}"))[1])
