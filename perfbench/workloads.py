"""The workloads and the harness that times, counts and checks each op.

Every workload is one client in a closed loop: the next op is issued only
after the previous one has returned and its result has been collected.
An op's latency runs from the call into the program until its result is
collected; the benchmark's own work (checks, counter reads) happens
between ops, outside that window.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

from . import check, collect, gen
from . import model as M

HERE = os.path.dirname(os.path.abspath(__file__))
#: archive loads per run; ``setup_s`` takes their median.
LOADS = 2
ARCHIVE_READS = (
    "playlist_summary", "playlist_videos", "video", "video_playlists", "stats",
    "cross_links", "top_channels", "playlist_stats", "search_titles",
    "search_transcripts", "sql",
)
MUTATIONS = (
    "upsert_videos", "sync_playlist_membership", "ingest_transcript_inbox",
    "update_playlist_counts", "compact", "export_playlists_json",
    "export_transcript_files",
)
ANN_QUERIES = ("graph_ann_topk", "stream_ivf_ingest")
ANN_DATA = os.path.join(HERE, "data", "sf0.01")
TRACE_LAYERS = ("bench", "archive", "queries", "operators", "sources", "sinks", "registry", "action")


def _pct(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(np.ceil(q * len(v))) - 1))]


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


class Bench:
    """One run: the Spark session, collectors, op log and metrics."""

    def __init__(self, args, ws: str, t_start: float):
        self.args, self.ws, self.t_start = args, ws, t_start
        self.trace = bool(args.trace)
        self.metrics: dict[str, float] = {}
        self.ops: list[dict] = []  # timed ops of the untraced passes
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0
        self.tracer = None  # the span recorder of the traced pass
        self.tracing = False  # spans are being recorded now
        self.spark = self.probe = None
        self.timed = False
        self.pass_ops: list[dict] = []
        self.pass_totals: list[float] = []

    # -- lifecycle ---------------------------------------------------------

    def start_spark(self) -> None:
        t0 = time.perf_counter()
        from youtube_scraper_db_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.ws, "warehouse"),
                # A fixed heap: with the program's growing 8 GB default,
                # G1's timing-driven resizing made the timings slower and
                # noisier (see README.md, "Workloads").
                "spark.driver.extraJavaOptions":
                    f"-Xms2g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.ws, 'tmp')}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.metrics["session.start_s"] = time.perf_counter() - t0
        self.probe = collect.SparkProbe(self.spark)

    def close(self) -> None:
        tmp = os.path.join(self.ws, "tmp")
        if os.path.isdir(tmp):
            self.metrics["bench.tmp_dirs_left"] = sum(
                1 for e in os.listdir(tmp) if e.startswith("sg_"))
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            proc.wait(timeout=60)

    # -- inputs --------------------------------------------------------------

    def inputs(self) -> str:
        """Generate the seed's inputs into the workspace, in a child
        process so that generating leaves no trace in the driver's RSS."""
        path = os.path.join(self.ws, "inputs")
        t0 = time.perf_counter()
        subprocess.run([sys.executable, "-m", "perfbench.gen", str(self.args.seed), path],
                       cwd=os.path.dirname(HERE), check=True, timeout=120)
        self.metrics["bench.generate_s"] = time.perf_counter() - t0
        return path

    # -- one op --------------------------------------------------------------

    def op(self, name: str, build, action=lambda r: r, check=None, layer: str = "archive"):
        """Run one op: ``build()`` calls into the program, ``action`` turns
        its return value into a collected result; ``check(result)``
        returns '' when the result is right. Returns the result."""
        self.attempted += 1
        group = self.probe.begin(name)
        if self.tracing:
            self.tracer.op = group
        result, err = None, ""
        t0 = t_build = t_act0 = time.perf_counter()
        persisted = (0, 0)
        try:
            with self.span(name, "bench"):
                obj = build()
                t_build = time.perf_counter()
                persisted = self.probe.after_build()
                t_act0 = time.perf_counter()
                with self.span(f"{name}.action", "action"):
                    result = action(obj)
        except Exception:  # noqa: BLE001 - a failing op is counted, not fatal
            err = traceback.format_exc(limit=3)
        t_act1 = time.perf_counter()
        build_ms = (t_build - t0) * 1000
        action_ms = (t_act1 - t_act0) * 1000
        rec = {"name": name, "layer": layer, "group": group, "ms": build_ms + action_ms,
               "build_ms": build_ms, "action_ms": action_ms}
        if self.trace and self.timed and not self.tracing:
            rec.update(self.probe.end(group, rec["ms"], persisted))
        if not err and check is not None:
            c0 = time.perf_counter()
            try:
                err = check(result)
            except Exception:  # noqa: BLE001 - an unreadable result fails the op
                err = "check raised: " + traceback.format_exc(limit=3)
            self.check_s += time.perf_counter() - c0
        if err:
            self.failed += 1
            self.errors.append(f"{name}: {err}")
        if self.timed:
            self.pass_ops.append(rec)
        return result

    def span(self, name: str, layer: str):
        """A span while the traced pass runs, else nothing."""
        return self.tracer.span(name, layer) if self.tracing else contextlib.nullcontext()

    def timed_passes(self, one_pass, max_passes: int) -> None:
        """Untraced: run ``one_pass`` until ``--seconds`` have elapsed (at
        least once, at most ``max_passes``). Traced: an untraced and then a
        traced pass; the tracing overhead is the second minus the first.
        A third pass would not fit a traced ``sync`` run in its time limit."""
        self.timed = True
        if self.trace:
            untraced = self._pass(one_pass, 0)
            self.tracer = collect.Tracer()
            install_spans(self.tracer)
            traced = self._pass(one_pass, 1, traced=True)
            self.tracer.unpatch()
            self.metrics["trace.overhead_s"] = traced - untraced
        else:
            t_end = time.perf_counter() + self.args.seconds
            n = 0
            while n < max_passes and (n == 0 or time.perf_counter() < t_end):
                self._pass(one_pass, n)
                n += 1
        self.timed = False
        # Read before any check that runs after the passes allocates.
        self.metrics["peak_rss_mb"] = self.probe.peak_rss_mb()

    def _pass(self, one_pass, n: int, traced: bool = False) -> float:
        """One pass; returns its total op time in seconds."""
        self.tracing = traced
        self.pass_ops = []
        one_pass(n)
        self.tracing = False
        total = sum(r["ms"] for r in self.pass_ops) / 1000
        if not traced:
            self.ops.extend(self.pass_ops)
            self.pass_totals.append(total)
        return total

    # -- results -------------------------------------------------------------

    def finish_common(self) -> None:
        m = self.metrics
        m["total_s"] = statistics.median(self.pass_totals)
        lat = [r["ms"] for r in self.ops if r["layer"] in ("archive-read", "registry")]
        m["latency_p50_ms"] = _pct(lat, 0.5)
        m["latency_p90_ms"] = _pct(lat, 0.9)
        m["bench.latency_samples"] = len(lat)
        m["failed_ratio"] = self.failed / max(1, self.attempted)
        m["bench.check_s"] = self.check_s
        if not self.trace:
            return
        for k in collect.SPARK_KEYS:
            m[f"spark.{k}"] = sum(r.get(k, 0) for r in self.ops)
        totals, per_op = self.probe.streaming({r["group"] for r in self.ops})
        for k, v in totals.items():
            m[f"streaming.{k}"] = v
        for q in ANN_QUERIES:
            if q.startswith("stream_"):
                m[f"streaming.{q}.addBatch_ms"] = per_op.get(q, 0)
        self_ms = self.tracer.self_ms()
        for layer in TRACE_LAYERS:
            m[f"trace.self_ms.{layer}"] = self_ms.get(layer, 0.0)
        m["trace.spans"] = len(self.tracer.spans)
        out = os.path.join(HERE, ".traces")
        os.makedirs(out, exist_ok=True)
        self.tracer.dump(os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json"))

    def result(self, wanted: list[dict]) -> dict:
        metrics = {}
        for w in wanted:
            metrics[w["name"]] = {"value": float(self.metrics.get(w["name"], 0.0)), "unit": w["unit"]}
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    def summary(self) -> str:
        m = self.metrics
        lines = [
            f"perfbench {self.args.workload} seed={self.args.seed}: "
            f"{self.attempted} ops, {self.failed} failed; passes={len(self.pass_totals)} "
            f"total_s={m.get('total_s', 0):.3f} p50={m.get('latency_p50_ms', 0):.1f}ms "
            f"p90={m.get('latency_p90_ms', 0):.1f}ms over {m.get('bench.latency_samples', 0)} samples "
            f"setup_s={m.get('setup_s', 0):.3f} wall_s={time.perf_counter() - self.t_start:.1f}"
        ]
        lines += self.errors[:5]
        return "\n".join(lines)


# -- tracing -----------------------------------------------------------------


def install_spans(tracer: collect.Tracer) -> None:
    """Span every layer boundary the archive path crosses, as bound where
    the archive calls it."""
    from youtube_scraper_db_spark import archive as A
    from youtube_scraper_db_spark.queries import analytics, catalog, search

    for name in ARCHIVE_READS + MUTATIONS + ("table",):
        tracer.patch(A.Archive, name, f"Archive.{name}", "archive")
    for mod, label in ((catalog, "catalog"), (analytics, "analytics"), (search, "search")):
        for fn in [f for f in dir(mod) if not f.startswith("_") and callable(getattr(mod, f))]:
            if getattr(getattr(mod, fn), "__module__", "") == mod.__name__:
                tracer.patch(mod, fn, f"queries.{label}.{fn}", "queries")
    for fn in ("merge_upsert", "field_update", "insert_if_absent", "keyed_delete",
               "sync_membership", "transcript_preference_merge"):
        tracer.patch(A, fn, f"operators.{fn}", "operators")
    for fn in ("read_transcript_files", "read_playlists_json"):
        tracer.patch(A, fn, f"sources.{fn}", "sources")
    for fn in ("write_playlists_json", "write_transcript_files"):
        tracer.patch(A, fn, f"sinks.{fn}", "sinks")


# -- archive workloads -------------------------------------------------------


def _load_archive(b: Bench, src: str):
    """``LOADS`` fresh loads of the generated tables; keeps the last."""
    from youtube_scraper_db_spark.archive import Archive

    times = []
    for i in range(LOADS):
        root = os.path.join(b.ws, f"archive{i}")
        t0 = time.perf_counter()
        ar = Archive.create(b.spark, root)
        for t in M.TABLES:
            ar.commit(t, b.spark.read.parquet(os.path.join(src, "archive", f"{t}.parquet")))
        times.append(time.perf_counter() - t0)
        if i < LOADS - 1:
            shutil.rmtree(root)
    b.metrics["archive.load_s"] = statistics.median(times)
    return ar


def _setup_archive(b: Bench):
    b.start_spark()
    t_session = time.perf_counter() - b.t_start
    src = b.inputs()
    ar = _load_archive(b, src)
    b.metrics["setup_s"] = t_session + b.metrics["archive.load_s"]
    written, files = _live_bytes(ar)
    user = sum(os.path.getsize(os.path.join(src, "archive", f"{t}.parquet")) for t in M.TABLES)
    b.metrics["archive.bytes_written"] = written
    b.metrics["archive.files_written"] = files
    b.metrics["write_amp"] = written / user
    with open(os.path.join(src, "script.json")) as f:
        script = json.load(f)
    return ar, src, script, gen.read_model(os.path.join(src, "archive"))


def _live_bytes(ar) -> tuple[int, int]:
    """Bytes and files of the committed versions, located with the
    facade's own version helpers."""
    size = files = 0
    for t in M.TABLES:
        s, n = _dir_bytes(ar._path(t))
        size, files = size + s, files + n
    return size, files


def _read(b: Bench, ar, m: M.Model, op: dict):
    kind, args = op["op"], op["args"]
    if kind == "sql":
        name, arg = args
        call = lambda: ar.sql(M.SQL_TEXT[name].format(arg=arg))  # noqa: E731
    else:
        call = lambda: getattr(ar, kind)(*args)  # noqa: E731
    b.op(kind, call, lambda df: df.collect(),
         check=lambda rows: check.check_read(m, kind, args, rows), layer="archive-read")


def _finish_archive(b: Bench, ar) -> None:
    reads = [r for r in b.ops if r["layer"] == "archive-read"]
    by = defaultdict(list)
    for r in reads:
        by[r["name"]].append(r)
    for k in ARCHIVE_READS:
        b.metrics[f"archive.{k}.p50_ms"] = statistics.median([r["ms"] for r in by[k]]) if by[k] else 0.0
    if reads:
        b.metrics["archive.build_ms"] = statistics.median([r["build_ms"] for r in reads])
        b.metrics["archive.action_ms"] = statistics.median([r["action_ms"] for r in reads])
    muts = defaultdict(list)
    for r in b.ops:
        if r["layer"] == "archive":
            muts[r["name"]].append(r["ms"])
    for k in MUTATIONS:
        b.metrics[f"archive.{k}.ms"] = statistics.median(muts[k]) if muts[k] else 0.0
    on_disk = _dir_bytes(ar.root)[0]
    live = _live_bytes(ar)[0]
    b.metrics["archive.bytes_on_disk"] = on_disk
    b.metrics["space_amp"] = on_disk / live
    b.finish_common()


def sync(b: Bench) -> None:
    """Scrape cycles of upserts, membership syncs, inbox ingests and
    recounts, with reads after each commit; each pass ends with compaction
    and both exports."""
    ar, src, script, m = _setup_archive(b)
    amp = {"written": 0, "files": 0, "user": 0}

    def mutate(name, call, user_bytes, apply, result_check=None):
        before = {t: ar._version_of(t) for t in M.TABLES}
        res = b.op(name, call, check=result_check)
        apply(m)
        if b.timed and not b.tracing:
            for t in M.TABLES:
                for v in range(before[t] + 1, ar._version_of(t) + 1):
                    s, n = _dir_bytes(ar._version_path(t, v))
                    amp["written"] += s
                    amp["files"] += n
            amp["user"] += user_bytes
        return res

    def cycle(c: int):
        d = os.path.join(src, "cycles", str(c))
        reads = defaultdict(list)
        for r in script["sync"][c]:
            reads[r["after"]].append(r)
        up = os.path.join(d, "upsert.parquet")
        mem = os.path.join(d, "members.parquet")
        inbox = os.path.join(d, "inbox")
        up_df = gen.read_frame(up)
        mem_df = gen.read_frame(mem)
        parsed = gen.read_frame(os.path.join(d, "expected_parse.parquet"))
        spark = b.spark
        steps = (
            ("upsert", "upsert_videos", lambda: ar.upsert_videos(spark.read.parquet(up)),
             os.path.getsize(up), lambda mm: M.apply_upsert(mm, up_df)),
            ("membership", "sync_playlist_membership",
             lambda: ar.sync_playlist_membership(spark.read.parquet(mem)),
             os.path.getsize(mem), lambda mm: M.apply_membership(mm, mem_df)),
            ("ingest", "ingest_transcript_inbox", lambda: ar.ingest_transcript_inbox(inbox),
             _dir_bytes(inbox)[0], lambda mm: M.apply_ingest(mm, parsed)),
            ("counts", "update_playlist_counts", ar.update_playlist_counts, 0, M.apply_counts),
        )
        for key, name, call, nbytes, apply in steps:
            if key == "ingest":
                mutate(name, call, nbytes, apply,
                       lambda n: "" if n == len(parsed) else f"ingested {n}, want {len(parsed)}")
            else:
                mutate(name, call, nbytes, apply)
            for r in reads[key]:
                _read(b, ar, m, r)

    def one_pass(n: int):
        cycle(n)
        for t in M.TABLES:
            mutate("compact", lambda t=t: ar.compact(t), 0, lambda mm: None)
        out = os.path.join(b.ws, "exports", str(n))
        pl, tx = os.path.join(out, "playlists"), os.path.join(out, "transcripts")
        b.op("export_playlists_json", lambda: ar.export_playlists_json(pl),
             check=lambda _r: check.check_playlists_export(m, pl))
        b.op("export_transcript_files", lambda: ar.export_transcript_files(tx),
             check=lambda cnt: check.check_transcripts_export(m, tx, cnt))
        shutil.rmtree(out, ignore_errors=True)

    # A scrape run is a fresh process, so the mutations run without a
    # warm-up beyond the archive loads; only the Python worker daemon, whose
    # start time varies run to run, is started before timing.
    b.op("export_transcript_files", lambda: ar.export_transcript_files(os.path.join(b.ws, "warmup")))
    b.timed_passes(one_pass, max_passes=gen.N_CYCLES)
    # The final tables are checked once, after peak_rss_mb is read, so that
    # collecting them does not count in it.
    c0 = time.perf_counter()
    tables = {t: ar.table(t).toPandas() for t in M.TABLES}
    err = check.check_tables(m, tables)
    b.check_s += time.perf_counter() - c0
    b.attempted += 1
    if err:
        b.failed += 1
        b.errors.append(f"final tables: {err}")
    b.metrics["archive.bytes_written"] = amp["written"]
    b.metrics["archive.files_written"] = amp["files"]
    b.metrics["write_amp"] = amp["written"] / max(1, amp["user"])
    _finish_archive(b, ar)


# -- registry workload -------------------------------------------------------


def ann_stream(b: Bench) -> None:
    """Registry ANN and stream gates over the fixed sf0.01 embeddings; the
    seed sets only the query order."""
    b.start_spark()
    t0 = time.perf_counter()
    from youtube_scraper_db_spark import registry

    b.metrics["registry.import_s"] = time.perf_counter() - t0
    b.metrics["setup_s"] = time.perf_counter() - b.t_start
    specs = {s.name: s for s in registry.REGISTRY}
    order = [ANN_QUERIES[i] for i in np.random.default_rng(b.args.seed).permutation(len(ANN_QUERIES))]
    oracle = _Oracle()

    def run(q: str):
        def build():
            with b.span(f"registry.{q}", "registry"):
                return specs[q].fn(b.spark, ANN_DATA)

        b.op(q, build, lambda df: (df.columns, [tuple(r) for r in df.collect()]),
             check=lambda res: oracle.check(specs[q], res), layer="registry")

    for q in ANN_QUERIES:  # warm-up
        run(q)

    def one_pass(_n):
        for q in order:
            run(q)

    b.timed_passes(one_pass, max_passes=2)
    by = defaultdict(list)
    for r in b.ops:
        by[r["name"]].append(r)
    for q in ANN_QUERIES:
        recs = by[q]
        b.metrics[f"registry.{q}.s"] = statistics.median([r["ms"] for r in recs]) / 1000
        b.metrics[f"registry.{q}.build_s"] = statistics.median([r["build_ms"] for r in recs]) / 1000
        b.metrics[f"registry.{q}.jobs"] = statistics.median([r.get("jobs", 0) for r in recs])
    b.finish_common()


class _Oracle:
    """Each spec's DuckDB oracle over the same parquet, run once per query;
    every result is compared with it under the local oracle mirror's
    canonicalization (imported lazily: it imports the registry, whose
    import time is measured)."""

    def __init__(self):
        self.con = None
        self.want: dict[str, tuple[list[str], list[tuple]]] = {}

    def check(self, spec, res) -> str:
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
        from check_oracle import canon_rows

        if spec.name not in self.want:
            self.want[spec.name] = self._run(spec, canon_rows)
        ocols, ocanon = self.want[spec.name]
        cols, rows = res
        if sorted(cols) != sorted(ocols):
            return f"columns {cols} != oracle {ocols}"
        if canon_rows(cols, rows) != ocanon:
            return f"{len(rows)} rows differ from the oracle's {len(ocanon)}"
        return ""

    def _run(self, spec, canon_rows) -> tuple[list[str], list[tuple]]:
        if self.con is None:
            import duckdb

            self.con = duckdb.connect()
            for f in sorted(os.listdir(ANN_DATA)):
                t = f.removesuffix(".parquet")
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(ANN_DATA, f)}')")
        cur = self.con.execute(spec.oracle)
        cols = [d[0] for d in cur.description]
        return cols, canon_rows(cols, cur.fetchall())


WORKLOADS = {"sync": sync, "ann_stream": ann_stream}
