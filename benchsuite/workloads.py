"""The two workloads: ``logs`` and ``corpus``.

Each workload runs a fixed number of untimed warm-up iterations, then timed
iterations until the run's time is up, and checks every operation against
the expectations generated before the process started. ``run_traced`` runs
the same iterations inside spans (``tracing.py``) and reports the per-layer
metrics listed in README.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
import urllib.parse
import urllib.request

from pyspark.sql import functions as F

from inputs import CLASSIFIER, SEMDEDUP, SERVE_WARMUP_ITERATIONS, TRUSTED_SOURCES
from tracing import LayerTotals, NullTracer, Tracer, fold_event_logs

#: a run is flagged when its two halves' medians differ by more than this
DRIFT_LIMIT = 0.10
#: a tail needs at least this many samples beyond it
TAIL_BEYOND = 10


def _note(msg: str) -> None:
    print(f"[benchsuite] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """(percentile, value) at the highest percentile with >= TAIL_BEYOND
    samples beyond it, or None when that percentile would not lie above
    the median."""
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND  # 1-based rank of the tail sample
    return 100.0 * rank / n, sorted(xs)[rank - 1]


def parquet_files(path: str) -> list:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(path))


def partition_rows(path: str) -> dict:
    """Rows per partition directory of a parquet table, from the footers."""
    import pyarrow.parquet as pq

    out: dict = {}
    for f in parquet_files(path):
        key = tuple(os.path.relpath(os.path.dirname(f), path).split(os.sep))
        out[key] = out.get(key, 0) + pq.ParquetFile(f).metadata.num_rows
    return out


class Workload:
    name = ""
    warmup_iterations = 1
    #: layers (metric-name prefixes) that never run on this workload; the
    #: traced run reports their per-layer metrics as 0
    idle_layers: tuple = ()
    #: what ``one_core_iteration`` runs, for the run's notes
    batch_name = ""

    def __init__(self, spark, spec, run_dir, cpus):
        self.spark = spark
        self.spec = spec
        self.expect = spec["expect"]
        self.run_dir = run_dir
        self.cpus = cpus
        self.tracer = NullTracer()
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    # -- hooks ---------------------------------------------------------------
    def setup(self) -> None:
        """Work done once per process before warm-up (counted in setup_s)."""

    def iteration(self) -> dict:
        raise NotImplementedError

    def warmup_iteration(self) -> dict:
        return self.iteration()

    def one_core_iteration(self) -> dict:
        """The workload's batch operation, once; the traced run calls it on a
        local[1] session for ``batch.speedup_1_to_n``."""
        raise NotImplementedError

    def timed_notes(self, its: list) -> None:
        """Per-operation medians and sample counts, as ``#`` lines."""

    def traced_metrics(self, tot: LayerTotals, its: list) -> dict:
        raise NotImplementedError

    def describe(self, its) -> str:
        def short(o):
            if isinstance(o, float):
                return round(o, 2)
            if isinstance(o, dict):
                return {k: short(v) for k, v in o.items()
                        if k in ("time", "job", "ingest", "jobs", "requests", "kind", "ops")}
            if isinstance(o, list):
                return [short(v) for v in o]
            return o
        return json.dumps(short(its))

    def close(self) -> None:
        try:
            self.spark.stop()
        except Exception:
            traceback.print_exc()

    # -- checking ------------------------------------------------------------
    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            _note(f"FAILED {self.name} {what}: {detail[:400]}")
        return ok

    def guarded(self, what: str, fn):
        """Run ``fn``; an exception counts as one failed operation."""
        try:
            return fn()
        except Exception:
            self.attempted += 1
            self.failed += 1
            _note(f"FAILED {self.name} {what}: exception")
            traceback.print_exc()
            return None

    # -- runs ----------------------------------------------------------------
    def _iterate(self, n: int = 0, seconds: float = 0.0, warmup: bool = False) -> list:
        its, t0 = [], time.time()
        step = self.warmup_iteration if warmup else self.iteration
        while len(its) < n or (seconds and time.time() - t0 < seconds) or not its:
            it = self.guarded("iteration", step)
            if it is not None:
                its.append(it)
            elif len(its) == 0 and time.time() - t0 > 120:
                raise RuntimeError("no iteration completed")
        return its

    def drift_note(self, times: list) -> None:
        half = len(times) // 2
        if half < 1:
            self.notes.append("drift: not checked (one timed iteration)")
            return
        a, b = median(times[:half]), median(times[len(times) - half:])
        change = (b - a) / a
        flag = " FLAGGED" if abs(change) > DRIFT_LIMIT else ""
        self.notes.append(
            f"drift: first-half median {a:.4f} s, second-half median {b:.4f} s "
            f"({change:+.1%}, limit {DRIFT_LIMIT:.0%}){flag}")

    def result(self, metrics: dict) -> dict:
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics, "notes": self.notes,
                "idle_layers": list(self.idle_layers)}

    def run_timed(self, seconds: float, spawned_at: float) -> dict:
        t0 = time.time()
        self.setup()
        _note(f"setup {time.time() - t0:.1f} s")
        t0 = time.time()
        w = self._iterate(n=self.warmup_iterations, warmup=True)
        _note(f"warm-up {time.time() - t0:.1f} s {self.describe(w)}")
        setup_s = time.time() - spawned_at
        its = self._iterate(seconds=seconds)
        _note("timed iterations " + self.describe(its))
        times = [it["time"] for it in its]
        self.drift_note(times)
        self.timed_notes(its)
        metrics = {"iteration_s": (median(times), "s"), "setup_s": (setup_s, "s")}
        self.notes.append(f"{self.name}: {len(its)} timed iterations after "
                          f"{self.warmup_iterations} warm-up on local[{self.cpus}]")
        return self.result({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()})

    def run_traced(self, seconds: float, session_s: float, new_session) -> dict:
        """Untraced and traced iterations in one process, in the order
        plain, traced, plain so that warm-up drift does not bias their time
        ratio (the tracing overhead); then the workload's batch operation,
        traced, on a fresh local[1] session for the 1->n speedup. The JVM
        outlives the session restart, so its compiled code stays warm."""
        self.setup()
        self._iterate(n=self.warmup_iterations, warmup=True)
        tracer = Tracer(self.spark.sparkContext)
        plain, traced, t0 = [], [], time.time()
        for mode in ("plain", "traced", "plain"):
            self.tracer = tracer if mode == "traced" else NullTracer()
            (traced if mode == "traced" else plain).extend(self._iterate(n=1))
        while time.time() - t0 < seconds:
            self.tracer = tracer
            traced.extend(self._iterate(n=1))
        n_spans = len(tracer.spans)
        self.spark.stop()
        self.spark, _ = new_session(1)
        tracer.sc = self.spark.sparkContext
        self.on_new_session()
        self.tracer = tracer
        it = self.guarded("local[1] iteration", self.one_core_iteration)
        self.tracer = NullTracer()
        self.spark.stop()
        spans = tracer.spans
        cost = fold_event_logs(os.path.join(self.run_dir, "events"), spans)
        tot = LayerTotals(spans[:n_spans], cost)
        metrics = self.traced_metrics(tot, traced)
        metrics["session.start_s"] = (session_s, "s")
        ids = [s["id"] for s in spans[:n_spans]]
        metrics["jvm.gc_s"] = (sum(cost.get(i, {}).get("gc_s", 0.0) for i in ids)
                               / len(traced), "s")
        metrics["spill_mb"] = (sum(cost.get(i, {}).get("spill_mb", 0.0) for i in ids)
                               / len(traced), "MB")
        metrics["trace.overhead_ratio"] = (
            median([it["time"] for it in traced]) / median([it["time"] for it in plain]),
            "ratio")
        if it is not None:
            metrics.update(self.scaling_metrics(traced, [it]))
        self.notes.append(f"{self.name}: traced {len(traced)} and untraced "
                          f"{len(plain)} iterations on local[{self.cpus}], "
                          f"1 traced {self.batch_name} on local[1]")
        return self.result({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()})

    def on_new_session(self) -> None:
        """Re-create session-bound state after a session restart."""

    def scaling_metrics(self, its: list, its1: list) -> dict:
        """``batch.speedup_1_to_n`` from the local[n] iterations ``its`` and
        the local[1] batch operation ``its1``."""
        raise NotImplementedError

    @staticmethod
    def coverage(tot: LayerTotals, root: str, groups: tuple = ()) -> float:
        """Share of the root spans' wall time covered by layer spans: the
        root's and the grouping spans' own self time is not covered."""
        uncovered = sum(tot.self_s(name) for name in (root, *groups))
        return 1.0 - uncovered / tot.wall_s(root)


# ---------------------------------------------------------------------------
# logs: the batch job, then one arrival served to one client
# ---------------------------------------------------------------------------


def _attempts_rows(html: str) -> list:
    start = html.index("drawRegionsMap(") + len("drawRegionsMap(")
    body = html[start:html.index(");</script>", start)].replace("'", '"')
    if body.endswith(",]"):  # no rows: the header row keeps its comma
        body = body[:-2] + "]"
    return [list(r) for r in json.loads(body)[1:]]


class Logs(Workload):
    """Each iteration runs the north-rule job over one page set, then lands
    one split in the serving sink through ``checkpoint.run_incremental`` and
    sends one client's seeded request stream through ``http_api.serve``.
    The serving sink is restored to the same base before every arrival."""

    name = "logs"
    batch_name = "batch job"
    #: the spec's first iterations send the shape-covering warm-up requests
    warmup_iterations = SERVE_WARMUP_ITERATIONS
    idle_layers = ("entry", "cluster", "classifier", "ann", "semdedup")

    def __init__(self, *a):
        super().__init__(*a)
        self.n = 0
        self.app = self.server = None
        self.on_new_session()

    def on_new_session(self) -> None:
        dims = self.spec["dims"]
        self.hc = self.spark.read.parquet(os.path.join(dims, "host_country.parquet"))
        self.cc = self.spark.read.parquet(os.path.join(dims, "country_code.parquet"))

    def setup(self) -> None:
        from security_log_analysis_rust_spark import http_api
        from security_log_analysis_rust_spark.parsing.core import (
            DEFAULT_SYSTEMD_LOG_FILTERS,
        )
        from security_log_analysis_rust_spark.pipeline.checkpoint import (
            run_incremental,
        )

        self.filters = tuple(DEFAULT_SYSTEMD_LOG_FILTERS)
        self.input_dir = os.path.join(self.run_dir, "serve", "input")
        self.sink = os.path.join(self.run_dir, "serve", "sink")
        self.base_sink = os.path.join(self.run_dir, "serve", "base_sink")
        shutil.copytree(self.spec["base"], self.input_dir)
        rep = run_incremental(self.spark, self.input_dir, self.sink, files_per_split=1,
                              watermark=True, filters=self.filters)
        e = self.expect["serve"]
        self.check("base sink", rep.rows == {
            "intrusion_appended": e["base_intrusion_rows"],
            "systemd": e["base_systemd_rows"]}, str(rep.rows))
        shutil.copytree(self.sink, self.base_sink)
        self.app = http_api.SecurityLogApp(self.spark, self.sink, self.spec["dims"],
                                           as_of=e["as_of"])
        self.server = http_api.serve(self.app)
        threading.Thread(target=self.server.serve_forever, daemon=True).start()
        self.base_url = f"http://127.0.0.1:{self.server.server_address[1]}/security_log"

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        super().close()

    # -- the batch job -------------------------------------------------------
    def batch_job(self) -> dict:
        from security_log_analysis_rust_spark.pipeline.aggregate import (
            per_country_counts,
            per_day_counts,
            per_host_counts,
        )
        from security_log_analysis_rust_spark.pipeline.enrich import enrich_events
        from security_log_analysis_rust_spark.pipeline.export import export_monthly
        from security_log_analysis_rust_spark.pipeline.parse import extract_events
        from security_log_analysis_rust_spark.pipeline.route import (
            write_sinks_single_pass,
        )

        spark, tr = self.spark, self.tracer
        job_dir = os.path.join(self.run_dir, "batch")
        sink, export = os.path.join(job_dir, "sink"), os.path.join(job_dir, "export")
        parsed_rows = None
        t0 = time.time()
        with tr.span("batch.job"):
            pages = spark.read.parquet(self.spec["pages"])
            if tr.enabled:
                # traced: materialize the layer boundaries so each layer's
                # work runs in its own jobs (the untraced job stays lazy)
                with tr.span("parse"):
                    out = extract_events(pages, persist=True)
                    parsed_rows = out["parsed"].count()
            else:
                out = extract_events(pages)
            with tr.span("route"):
                write_sinks_single_pass(out["routed"], sink)
            if tr.enabled:
                out["parsed"].unpersist()
            intr = (spark.read.parquet(sink).filter(F.col("sink") == "intrusion_log")
                    .select("service", "server", "datetime", "host", "username"))
            with tr.span("enrich"):
                enriched = enrich_events(intr, self.hc, self.cc)
                if tr.enabled:
                    enriched = enriched.persist()
                    enriched.count()
            with tr.span("aggregate"):
                pc = per_country_counts(enriched).collect()
                ph = per_host_counts(intr).collect()
                pd = per_day_counts(intr).collect()
            with tr.span("export"):
                export_monthly(enriched, export)
            if tr.enabled:
                enriched.unpersist()
        job_s = time.time() - t0
        rec = self._check_job(sink, export, pc, ph, pd, parsed_rows)
        rec["job"] = job_s
        shutil.rmtree(job_dir, ignore_errors=True)
        return rec

    def _check_job(self, sink, export, pc, ph, pd, parsed_rows) -> dict:
        e = self.expect["batch"]
        got_pc = [[r["country"], r["count"]] for r in pc]
        got_ph = sorted([r["host"], r["count"]] for r in ph)
        got_pd = sorted([r["day"].isoformat(), r["count"]] for r in pd)
        sinks = {k[0].split("=", 1)[1]: n for k, n in partition_rows(sink).items()}
        months = sorted(["-".join(part.split("=", 1)[1] for part in k), n]
                        for k, n in partition_rows(export).items())
        ok = (got_pc == e["per_country"] and got_ph == e["per_host"]
              and got_pd == e["per_day"]
              and sinks == {"intrusion_log": e["intrusion_rows"],
                            "systemd_log_messages": e["systemd_out"]}
              and months == e["export_months"]
              and (parsed_rows is None
                   or parsed_rows == e["events_out"] + e["systemd_out"]))
        self.check("batch job", ok, f"sinks={sinks} parsed={parsed_rows}")
        return {"sink_bytes": parquet_bytes(sink),
                "sink_rows": sum(sinks.values()),
                "sink_files": len(parquet_files(sink)),
                "export_files": len(parquet_files(export))}

    # -- arrival and serving -------------------------------------------------
    def _get(self, path: str, params: dict) -> str:
        url = f"{self.base_url}/{path}?{urllib.parse.urlencode(params)}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return r.read().decode()

    def _request(self, req: dict) -> dict:
        route, p, exp = req["route"], req["params"], req["expect"]
        path = {"attempts": "intrusion_attempts", "intrusion_log": "intrusion_log",
                "log_messages": "log_messages"}[route]
        params = dict(p) if route == "attempts" else {**p, "limit": 10}
        misses = self.app.cache.misses
        with self.tracer.span("http_api.request", route=route) as sp:
            t0 = time.time()
            body = self._get(path, params)
            dt = time.time() - t0
        if route == "attempts":
            hit = self.app.cache.misses == misses
            kind = "hit" if hit else "attempts"
            ok = hit == req["hit"] and _attempts_rows(body) == exp
        else:
            kind = route
            got = json.loads(body)
            if route == "intrusion_log":
                rows = [[d["service"], d["server"], d["datetime"], d["host"],
                         d["username"]] for d in got["data"]]
            else:
                rows = sorted([[d["log_level"], d["log_unit"], d["log_message"],
                                d["log_timestamp"]] for d in got["data"]],
                              key=lambda r: (r[3], r[0], r[1], r[2]))
            ok = got["pagination"]["total"] == exp["total"] and rows == exp["rows"]
        if sp is not None:
            sp["attrs"]["kind"] = kind
        self.check(f"request {route} {p}", ok, body[:300])
        return {"kind": kind, "time": dt}

    def arrive(self, k: int) -> float:
        """Restore the serving sink to its base, land arrival ``k`` and
        ingest it; returns the time from landing to ``run_incremental``
        returning."""
        from security_log_analysis_rust_spark.pipeline.checkpoint import (
            run_incremental,
        )

        shutil.rmtree(self.sink)
        shutil.copytree(self.base_sink, self.sink)
        arrival = self.expect["serve"]["arrivals"][k]
        landed = os.path.join(self.input_dir, arrival["file"])
        with self.tracer.span("checkpoint"):
            t0 = time.time()
            shutil.copy(os.path.join(self.spec["arrivals_dir"], arrival["file"]), landed)
            rep = run_incremental(self.spark, self.input_dir, self.sink,
                                  files_per_split=1, watermark=True,
                                  filters=self.filters)
            ingest_s = time.time() - t0
        os.remove(landed)
        self.check("split", rep.splits_completed == 1 and rep.rows == {
            "intrusion_appended": arrival["appended"],
            "systemd": arrival["systemd"]}, str(rep.rows))
        return ingest_s

    def iteration(self) -> dict:
        """One batch job; one arrival into the restored base; then the
        client's requests against the sink that arrival left. The
        iteration's time is the sum of its operations' times: checking the
        outputs and restoring the sink between them is the benchmark's
        work, not the program's."""
        plan = self.expect["serve"]["iterations"][self.n]
        self.n += 1
        with self.tracer.span("logs.iteration"):
            jobs = [self.batch_job()]
            ingest = [self.arrive(plan["arrival"])]
            reqs = [self.guarded("request", lambda r=r: self._request(r))
                    for r in plan["requests"]]
        reqs = [r for r in reqs if r is not None]
        return {"time": (sum(j["job"] for j in jobs) + sum(ingest)
                         + sum(r["time"] for r in reqs)),
                "jobs": jobs, "ingest": ingest, "requests": reqs}

    def one_core_iteration(self) -> dict:
        return {"jobs": [self.batch_job()]}

    # -- metrics -------------------------------------------------------------
    @staticmethod
    def _samples(its, *kinds):
        return [r["time"] for it in its for r in it["requests"] if r["kind"] in kinds]

    @staticmethod
    def _jobs(its) -> list:
        return [j for it in its for j in it["jobs"]]

    def timed_notes(self, its: list) -> None:
        jobs = [j["job"] for j in self._jobs(its)]
        ingest = [t for it in its for t in it["ingest"]]
        e = self.expect["batch"]
        self.notes.append(f"batch input: {e['pages']} pages, {e['lines_in']} lines; "
                          f"serving splits: {self.expect['serve']['pages_per_split']} pages")
        for label, xs in (("batch job", jobs), ("ingest", ingest),
                          ("attempts (cache miss)", self._samples(its, "attempts")),
                          ("attempts (cache hit)", self._samples(its, "hit")),
                          ("intrusion_log", self._samples(its, "intrusion_log")),
                          ("log_messages", self._samples(its, "log_messages"))):
            t = tail(xs) if xs else None
            tail_txt = (f"tail p{t[0]:.0f}={t[1]:.4f} s" if t else
                        f"no tail (needs {2 * TAIL_BEYOND} samples)")
            med = f"p50={median(xs):.4f} s" if xs else "no samples"
            self.notes.append(f"{label}: n={len(xs)} {med} {tail_txt}")

    def traced_metrics(self, tot: LayerTotals, its: list) -> dict:
        jobs = self._jobs(its)
        n = len(jobs)
        e = self.expect["batch"]
        splits = tot.count("checkpoint")
        reqs = tot.select("http_api.request")
        att = [s for s in reqs if s["attrs"].get("kind") == "attempts"]
        page = [s for s in reqs
                if s["attrs"].get("kind") in ("intrusion_log", "log_messages")]
        return {
            "parse.self_s": (tot.self_s("parse") / n, "s"),
            "parse.lines_in": (e["lines_in"], "lines"),
            "parse.events_out": (e["events_out"], "rows"),
            "parse.systemd_out": (e["systemd_out"], "rows"),
            "parse.task_cpu_s": (tot.metric("parse", "task_cpu_s") / n, "s"),
            "parse.python_eval_nodes": (tot.metric("parse", "python_eval_nodes") / n,
                                        "count"),
            "route.self_s": (tot.self_s("route") / n, "s"),
            "route.exchanges": (tot.metric("route", "exchanges") / n, "count"),
            "route.shuffle_write_mb": (tot.metric("route", "shuffle_write_mb") / n, "MB"),
            "route.sink_bytes_per_row": (median([j["sink_bytes"] / j["sink_rows"]
                                                 for j in jobs]), "B/row"),
            "route.sink_files_written": (median([j["sink_files"] for j in jobs]),
                                         "count"),
            "route.antijoin_input_mb": (tot.metric("route.append_dedup", "input_mb")
                                        / splits, "MB"),
            "checkpoint.self_s_per_split": (tot.self_s("checkpoint") / splits, "s"),
            "checkpoint.jobs_per_split": (tot.metric("checkpoint", "jobs", True)
                                          / splits, "count"),
            "checkpoint.input_mb_per_split": (
                tot.metric("checkpoint", "input_mb", True) / splits, "MB"),
            "enrich.self_s": (tot.self_s("enrich") / n, "s"),
            "enrich.joins": (tot.metric("enrich", "joins") / n, "count"),
            "enrich.broadcast_exchanges": (
                tot.metric("enrich", "broadcast_exchanges") / n, "count"),
            "aggregate.self_s": (tot.self_s("aggregate") / n, "s"),
            "aggregate.exchanges": (tot.metric("aggregate", "exchanges") / n, "count"),
            "aggregate.shuffle_write_mb": (
                tot.metric("aggregate", "shuffle_write_mb") / n, "MB"),
            "aggregate.task_skew": (tot.max_metric("aggregate", "max_task_skew"),
                                    "ratio"),
            "export.self_s": (tot.self_s("export") / n, "s"),
            "export.files_written": (median([j["export_files"] for j in jobs]),
                                     "count"),
            "http_api.attempts_self_s": (
                sum(s["end"] - s["start"] for s in att) / max(1, len(att)), "s"),
            "http_api.page_self_s": (
                sum(s["end"] - s["start"] for s in page) / max(1, len(page)), "s"),
            "http_api.jobs_per_request": (tot.metric("http_api.request", "jobs")
                                          / max(1, len(reqs)), "count"),
            "trace.coverage": (self.coverage(tot, "logs.iteration", ("batch.job",)),
                               "ratio"),
        }

    def scaling_metrics(self, its, its1) -> dict:
        return {"batch.speedup_1_to_n": (
            median([j["job"] for j in self._jobs(its1)])
            / median([j["job"] for j in self._jobs(its)]), "ratio")}

    def run_traced(self, seconds, session_s, new_session) -> dict:
        from security_log_analysis_rust_spark.pipeline import checkpoint

        original = checkpoint.append_dedup

        def traced_append_dedup(*a, **kw):
            with self.tracer.span("route.append_dedup"):
                return original(*a, **kw)

        checkpoint.append_dedup = traced_append_dedup
        try:
            return super().run_traced(seconds, session_s, new_session)
        finally:
            checkpoint.append_dedup = original


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def _same_rows(got: list, exp: list) -> bool:
    def norm(rows):
        return sorted([round(v, 9) if isinstance(v, float) else v for v in r]
                      for r in rows)

    return norm(got) == norm(exp)


class Corpus(Workload):
    """Back-to-back passes of the corpus operators; no log layer runs."""

    name = "corpus"
    batch_name = "pass"
    warmup_iterations = 1
    idle_layers = ("parse", "route", "checkpoint", "enrich", "aggregate", "export",
                   "http_api")

    def __init__(self, *a):
        super().__init__(*a)
        self.on_new_session()

    def on_new_session(self) -> None:
        sf = self.spec["sf_dir"]
        self.docs = self.spark.read.parquet(os.path.join(sf, "documents.parquet")).select(
            "doc_id", "source", "text")
        self.emb = self.spark.read.parquet(os.path.join(sf, "embeddings.parquet")).select(
            "vec_id", "embedding")

    def iteration(self) -> dict:
        import __spark_entry__ as E
        from security_log_analysis_rust_spark.textops.classifier import (
            pareto_select,
            score_docs_classifier,
            train_classifier,
        )
        from security_log_analysis_rust_spark.textops.semdedup import semdedup

        spark, tr, sf, e = self.spark, self.tracer, self.spec["sf_dir"], self.expect
        t0 = time.time()
        marks = [t0]
        with tr.span("corpus.pass"):
            with tr.span("entry.training_corpus"):
                training = E.q_docs_training_corpus(spark, sf)
                cols = e["training_corpus"]["columns"]
                training = [list(r) for r in training.select(*cols).collect()]
            marks.append(time.time())
            with tr.span("classifier.train"):
                model = train_classifier(
                    self.docs.withColumn(
                        "label", F.col("source").isin(*TRUSTED_SOURCES).cast("int")),
                    **CLASSIFIER)
            with tr.span("classifier.score"):
                kept = pareto_select(score_docs_classifier(self.docs, model)).collect()
            marks.append(time.time())
            with tr.span("ann"):
                cols = e["emb_topk_lsh"]["columns"]
                lsh = [list(r) for r in
                       E.q_emb_topk_lsh(spark, sf).select(*cols).collect()]
            marks.append(time.time())
            with tr.span("semdedup"):
                cols = e["semdedup"]["columns"]
                sem = [list(r) for r in semdedup(
                    self.emb, threshold=SEMDEDUP["threshold"], n_centroids=None,
                    n_vectors=e["vectors"],
                    target_cluster=SEMDEDUP["target_cluster"]).select(*cols).collect()]
        marks.append(time.time())
        self.check("training_corpus",
                   _same_rows(training, e["training_corpus"]["rows"]))
        self.check("emb_topk_lsh", _same_rows(lsh, e["emb_topk_lsh"]["rows"]))
        self.check("semdedup", _same_rows(sem, e["semdedup"]["rows"]))
        self.check("classifier", self._classifier_ok(model, kept))
        return {"time": marks[-1] - t0,
                "ops": [b - a for a, b in zip(marks, marks[1:])]}

    def _classifier_ok(self, model, kept) -> bool:
        """Weights within 1e-9 of the same-order numpy reference; kept rows
        scored as the SQL twin scores them; the kept set equal to the SQL
        twin's except for documents whose score sits within 1e-5 of their
        acceptance threshold (last-ulp training differences may flip those)."""
        import hashlib

        e = self.expect
        ref = {int(k): v for k, v in e["classifier_weights"].items()}
        if set(ref) != set(model.weights) or abs(model.bias - e["classifier_bias"]) > 1e-9:
            return False
        if any(abs(model.weights[k] - v) > 1e-9 for k, v in ref.items()):
            return False
        scores = e["scores"]
        got = {r["doc_id"]: r["score"] for r in kept}
        if any(abs(s - scores[str(d)]) > 2e-6 for d, s in got.items()):
            return False
        for d in set(got) ^ set(e["pareto_kept"]):
            u = int(hashlib.md5(f"{d}:pareto".encode()).hexdigest()[:8], 16) / 2.0**32
            threshold = 1.0 - ((1.0 - u) ** (-1.0 / 9.0) - 1.0)
            if abs(scores[str(d)] - threshold) > 1e-5:
                return False
        return True

    def timed_notes(self, its: list) -> None:
        times = [it["time"] for it in its]
        e = self.expect
        self.notes.append(f"corpus input: {e['docs']} documents, {e['vectors']} "
                          f"vectors; pass n={len(times)} p50={median(times):.4f} s")
        ops = ("training_corpus", "classifier", "emb_topk_lsh", "semdedup")
        self.notes.append("pass p50 by operator: " + ", ".join(
            f"{name} {median([it['ops'][k] for it in its]):.4f} s"
            for k, name in enumerate(ops)))

    def one_core_iteration(self) -> dict:
        return self.iteration()

    def scaling_metrics(self, its, its1) -> dict:
        return {"batch.speedup_1_to_n": (
            median([it["time"] for it in its1]) / median([it["time"] for it in its]),
            "ratio")}

    def traced_metrics(self, tot: LayerTotals, its: list) -> dict:
        n = len(its)
        return {
            "entry.training_corpus_self_s": (tot.self_s("entry.training_corpus") / n, "s"),
            "entry.training_corpus_exchanges": (
                tot.metric("entry.training_corpus", "exchanges") / n, "count"),
            "entry.training_corpus_joins": (
                tot.metric("entry.training_corpus", "joins") / n, "count"),
            "cluster.self_s": (tot.self_s("cluster") / n, "s"),
            "cluster.jobs": (tot.metric("cluster", "jobs") / n, "count"),
            "cluster.shuffle_write_mb": (tot.metric("cluster", "shuffle_write_mb") / n,
                                         "MB"),
            "classifier.train_self_s": (tot.self_s("classifier.train") / n, "s"),
            "classifier.score_self_s": (tot.self_s("classifier.score") / n, "s"),
            "classifier.input_mb": ((tot.metric("classifier.train", "input_mb")
                                     + tot.metric("classifier.score", "input_mb")) / n,
                                    "MB"),
            "classifier.shuffle_write_mb": (
                (tot.metric("classifier.train", "shuffle_write_mb")
                 + tot.metric("classifier.score", "shuffle_write_mb")) / n, "MB"),
            "ann.self_s": (tot.self_s("ann") / n, "s"),
            "ann.python_eval_nodes": (tot.metric("ann", "python_eval_nodes") / n, "count"),
            "semdedup.self_s": (tot.self_s("semdedup") / n, "s"),
            "semdedup.python_eval_nodes": (tot.metric("semdedup", "python_eval_nodes") / n,
                                           "count"),
            "trace.coverage": (self.coverage(tot, "corpus.pass"), "ratio"),
        }

    def run_traced(self, seconds, session_s, new_session) -> dict:
        from security_log_analysis_rust_spark.textops import cluster

        original = cluster.connected_components

        def traced_connected_components(*a, **kw):
            with self.tracer.span("cluster"):
                return original(*a, **kw)

        cluster.connected_components = traced_connected_components
        try:
            return super().run_traced(seconds, session_s, new_session)
        finally:
            cluster.connected_components = original


WORKLOADS = {"logs": Logs, "corpus": Corpus}
