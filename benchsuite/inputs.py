"""Seeded inputs and expected outputs for the benchmark workloads.

Everything here runs before the measured process starts and uses no Spark:
pages come from the package's own synthetic generator, documents and
embeddings from a seeded numpy generator shaped like the sf0.01 test
corpus, and
every expected output comes from an independent implementation — the
pure-Python parse spec (``oracle.py`` over ``parsing/core.py``) on the log
side, DuckDB over ``oracle_sql()`` and the SQL twins on the corpus side.
The same seed always gives the same files and the same expectations.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from security_log_analysis_rust_spark.oracle import extract_events_pandas
from security_log_analysis_rust_spark.parsing.core import SERVERS
from security_log_analysis_rust_spark.synth.dims import write_dims
from security_log_analysis_rust_spark.synth.pages import write_pages

#: bump when the generated inputs or expectations change shape
INPUT_VERSION = 3

# -- sizes (README.md explains why they are smaller than sf0.1) --------------
#: every input file holds this many pages (a serving split is one file)
PAGES_PER_FILE = 30
BATCH_FILES = 20
SERVE_BASE_SPLITS = 1
SERVE_ARRIVALS = 4
#: iterations with precomputed request expectations (a run stops far earlier)
SERVE_MAX_ITERATIONS = 24
SERVE_WARMUP_ITERATIONS = 1
#: /intrusion_attempts requests per arrival that miss and that hit the cache
MISSES_PER_ARRIVAL = 2
HITS_PER_ARRIVAL = 2
PAGES_PER_ARRIVAL = 4
CORPUS_DOCS = 500
CORPUS_VECTORS = 500
EMB_DIM = 64

#: the HTTP app's deterministic "now" for ndays filters
AS_OF = "2024-12-31"
#: attempts cache key space: services x locations x ndays
ATTEMPT_SERVICES = ("ssh", "apache", "nginx")
ATTEMPT_LOCATIONS = ("home", "cloud")
ATTEMPT_NDAYS = tuple(range(5, 305, 5))
LOCATION_ALIAS = {"home": SERVERS[0], "cloud": SERVERS[1]}
#: the app's TimedSizedCache size; the checker models the same FIFO cache
CACHE_SIZE = 100
PAGE_LIMIT = 10

CLASSIFIER = {"dim": 4096, "lr": 2.0, "iters": 3, "l2": 1e-4}
TRUSTED_SOURCES = ("src0", "src1")
SEMDEDUP = {"threshold": 0.35, "target_cluster": 256}

# -- log-side spec -----------------------------------------------------------


def _read_pages(path: str):
    return pq.read_table(path).to_pandas()


def _country_maps(dims_dir: str) -> tuple[dict, dict]:
    hc = pq.read_table(os.path.join(dims_dir, "host_country.parquet")).to_pylist()
    cc = pq.read_table(os.path.join(dims_dir, "country_code.parquet")).to_pylist()
    return {r["host"]: r["code"] for r in hc}, {r["code"]: r["country"] for r in cc}


def _dedup(events: list) -> list:
    """Keep-first per unique key in the pipeline's order:
    (username NULLS FIRST, url, line_no)."""
    best: dict = {}
    for e in events:
        url, line_no, service, server, ts, host, user = e
        key = (service, server, ts, host)
        order = (user is not None, user or "", url, line_no)
        if key not in best or order < best[key][0]:
            best[key] = (order, e)
    return [v[1] for v in best.values()]


def _intr_row(e) -> dict:
    return {"service": e[2], "server": e[3], "datetime": e[4], "host": e[5],
            "username": e[6]}


def _sysd_row(s) -> dict:
    return {"log_level": s[2], "log_unit": s[3], "log_message": s[4],
            "log_timestamp": s[5]}


def _country_counts(rows, host_code, code_country, how_inner: bool) -> list:
    counts: collections.Counter = collections.Counter()
    for r in rows:
        code = host_code.get(r["host"])
        country = code_country.get(code) if code is not None else None
        if country is None and how_inner:
            continue
        counts[country] += 1
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0] or ""))


def batch_expectations(pages_path: str, dims_dir: str) -> dict:
    pages = _read_pages(pages_path)
    events, systemd = extract_events_pandas(pages)
    intr = _dedup(events)
    host_code, code_country = _country_maps(dims_dir)
    rows = [_intr_row(e) for e in intr]
    per_country = _country_counts(rows, host_code, code_country, how_inner=False)
    per_host = collections.Counter(r["host"] for r in rows)
    per_day = collections.Counter(r["datetime"].date().isoformat() for r in rows)
    per_month = collections.Counter(
        f"{r['datetime'].year}-{r['datetime'].month}" for r in rows
    )
    lines = int(sum(len((t or "").split("\n")) for t in pages["text"]))
    return {
        "pages": len(pages),
        "lines_in": lines,
        "events_out": len(events),
        "systemd_out": len(systemd),
        "intrusion_rows": len(intr),
        "per_country": [[c, n] for c, n in per_country],
        "per_host": sorted([h, n] for h, n in per_host.items()),
        "per_day": sorted([d, n] for d, n in per_day.items()),
        "export_months": sorted([m, n] for m, n in per_month.items()),
    }


# -- serving side of the logs workload --------------------------------------


class _FifoCache:
    """Model of the app's TimedSizedCache for a run far shorter than its
    TTL: at most ``size`` entries, oldest insertion evicted first."""

    def __init__(self, size: int):
        self.size = size
        self.d: collections.OrderedDict = collections.OrderedDict()

    def get_or(self, key, compute):
        if key in self.d:
            return True, self.d[key]
        value = compute()
        self.d[key] = value
        while len(self.d) > self.size:
            self.d.popitem(last=False)
        return False, value


def _cache_key(service, server, ndays) -> str:
    abbr_s = {"ssh": "s", "apache": "a", "nginx": "n"}
    abbr_h = {SERVERS[0]: "h", SERVERS[1]: "c"}
    return f"q:\ns={abbr_s[service]}\nl={abbr_h[server]}\nn={ndays}\n"


class _SinkSpec:
    """What ``checkpoint.run_incremental(watermark=True)`` must leave in the
    sink, split by split (mirrors its documented contract: in-split dedup,
    per-(service, server) high watermark folded from earlier splits, then an
    anti-join on the unique key)."""

    def __init__(self):
        self.intr: list = []
        self.keys: set = set()
        self.sysd: list = []
        self.wm: dict = {}

    def ingest(self, pages) -> tuple[list, list]:
        events, systemd = extract_events_pandas(pages)
        ev = _dedup(events)
        if self.wm:
            ev = [e for e in ev if (e[2], e[3]) not in self.wm
                  or e[4] > self.wm[(e[2], e[3])]]
        new = [_intr_row(e) for e in ev
               if (e[2], e[3], e[4], e[5]) not in self.keys]
        for e in ev:
            k = (e[2], e[3])
            if k not in self.wm or e[4] > self.wm[k]:
                self.wm[k] = e[4]
        return new, [_sysd_row(s) for s in systemd]

    def commit(self, new, sysd) -> None:
        self.intr.extend(new)
        self.keys.update((r["service"], r["server"], r["datetime"], r["host"])
                         for r in new)
        self.sysd.extend(sysd)

    def copy(self) -> "_SinkSpec":
        c = _SinkSpec()
        c.intr, c.keys, c.sysd, c.wm = (list(self.intr), set(self.keys),
                                        list(self.sysd), dict(self.wm))
        return c


def _attempts_body(state: _SinkSpec, service, server, ndays, maps) -> list:
    lo = datetime.fromisoformat(AS_OF) - timedelta(days=ndays)
    rows = [r for r in state.intr if r["service"] == service
            and r["server"] == server and r["datetime"] >= lo]
    return [[c, n] for c, n in _country_counts(rows, *maps, how_inner=True)]


def _intrusion_page(state: _SinkSpec, service, server, offset) -> dict:
    rows = [r for r in state.intr
            if (service is None or r["service"] == service)
            and (server is None or r["server"] == server)]
    rows.sort(key=lambda r: (r["host"], r["service"], r["server"]))
    rows.sort(key=lambda r: r["datetime"], reverse=True)
    page = rows[offset:offset + PAGE_LIMIT]
    return {"total": len(rows), "rows": [
        [r["service"], r["server"], r["datetime"].isoformat(), r["host"],
         r["username"]] for r in page]}


def _messages_page(state: _SinkSpec, level, unit, offset) -> dict:
    rows = [r for r in state.sysd
            if (level is None or r["log_level"] == level)
            and (unit is None or r["log_unit"] == unit)]
    rows.sort(key=lambda r: (r["log_timestamp"], r["log_level"],
                             r["log_unit"], r["log_message"]))
    page = rows[offset:offset + PAGE_LIMIT]
    return {"total": len(rows), "rows": [
        [r["log_level"], r["log_unit"], r["log_message"],
         r["log_timestamp"].isoformat()] for r in page]}


def _shape_cover_requests() -> list:
    """Warm-up requests: one of every query shape a timed iteration sends."""
    return [
        ("attempts", {"service": "ssh", "location": "home", "ndays": 30}),
        ("attempts", {"service": "ssh", "location": "home", "ndays": 30}),
        ("intrusion_log", {"offset": 0}),
        ("intrusion_log", {"service": "ssh", "server": SERVERS[0], "offset": 10}),
        ("log_messages", {"offset": 0}),
        ("log_messages", {"log_level": "error", "log_unit": "myapp.service",
                          "offset": 10}),
    ]


def _seeded_requests(rng, key_ranks, key_p, cache) -> list:
    """One arrival's requests: /intrusion_attempts keys drawn Zipf-skewed,
    MISSES_PER_ARRIVAL among keys the app has not cached and
    HITS_PER_ARRIVAL among keys it has, plus page requests. Every arrival
    sends the same mix of request kinds, so runs with different seeds
    time the same work."""

    def draw(cached: bool, exclude=()):
        idx = [i for i, k in enumerate(key_ranks) if k not in exclude and (
            _cache_key(k[0], LOCATION_ALIAS[k[1]], k[2]) in cache.d) == cached]
        p = key_p[idx] / key_p[idx].sum()
        return key_ranks[idx[int(rng.choice(len(idx), p=p))]]

    reqs = []
    for _ in range(MISSES_PER_ARRIVAL):
        reqs.append(draw(cached=False, exclude=reqs))
    reqs += [draw(cached=True) for _ in range(HITS_PER_ARRIVAL)]
    reqs = [("attempts", {"service": s_, "location": loc, "ndays": nd})
            for s_, loc, nd in reqs]
    for j in range(PAGES_PER_ARRIVAL):
        off = int(rng.integers(0, 4)) * PAGE_LIMIT
        if j % 2 == 0:
            p = {"offset": off}
            if rng.random() < 0.5:
                p["service"] = ATTEMPT_SERVICES[int(rng.integers(0, 3))]
            if rng.random() < 0.5:
                p["server"] = SERVERS[int(rng.integers(0, 2))]
            reqs.append(("intrusion_log", p))
        else:
            p = {"offset": off}
            if rng.random() < 0.5:
                p["log_level"] = ("error", "warn", "info", "debug")[int(rng.integers(0, 4))]
            if rng.random() < 0.3:
                p["log_unit"] = ("myapp.service", "nginx.service")[int(rng.integers(0, 2))]
            reqs.append(("log_messages", p))
    order = rng.permutation(len(reqs))
    return [reqs[i] for i in order]


def serve_expectations(base_files, arrival_tables, dims, seed) -> dict:
    """Sink contents after the base splits and after each arrival, and the
    expected response of every request of every iteration, with the app's
    cache modelled request by request."""
    spec = _SinkSpec()
    for path in base_files:
        spec.commit(*spec.ingest(pq.read_table(path).to_pandas()))
    arrivals = []
    for name, table in arrival_tables:
        s = spec.copy()
        new, sysd = s.ingest(table)
        s.commit(new, sysd)
        arrivals.append({"file": name, "state": s, "appended": len(new),
                         "systemd": len(sysd)})
    maps = _country_maps(dims)
    rng = np.random.default_rng([seed, 7])
    keys = [(s_, loc, n) for s_ in ATTEMPT_SERVICES for loc in ATTEMPT_LOCATIONS
            for n in ATTEMPT_NDAYS]
    key_ranks = [keys[i] for i in rng.permutation(len(keys))]
    key_p = 1.0 / np.arange(1, len(keys) + 1) ** 1.1
    key_p /= key_p.sum()
    cache = _FifoCache(CACHE_SIZE)
    iterations = []
    for it in range(SERVE_MAX_ITERATIONS):
        state = arrivals[it % SERVE_ARRIVALS]["state"]
        reqs = (_shape_cover_requests() if it < SERVE_WARMUP_ITERATIONS
                else _seeded_requests(rng, key_ranks, key_p, cache))
        out = []
        for route, p in reqs:
            if route == "attempts":
                server = LOCATION_ALIAS[p["location"]]
                hit, body = cache.get_or(
                    _cache_key(p["service"], server, p["ndays"]),
                    lambda: _attempts_body(state, p["service"], server,
                                           p["ndays"], maps))
                out.append({"route": route, "params": p, "hit": hit,
                            "expect": body})
            elif route == "intrusion_log":
                out.append({"route": route, "params": p, "expect": _intrusion_page(
                    state, p.get("service"), p.get("server"), p["offset"])})
            else:
                out.append({"route": route, "params": p, "expect": _messages_page(
                    state, p.get("log_level"), p.get("log_unit"), p["offset"])})
        iterations.append({"arrival": it % SERVE_ARRIVALS, "requests": out})
    return {
        "as_of": AS_OF,
        "pages_per_split": PAGES_PER_FILE,
        "base_intrusion_rows": len(spec.intr),
        "base_systemd_rows": len(spec.sysd),
        "arrivals": [{"file": a["file"], "appended": a["appended"],
                      "systemd": a["systemd"]} for a in arrivals],
        "iterations": iterations,
    }


def make_logs(out_dir: str, seed: int) -> dict:
    """One generator call, so every page shares the seed's host pool (and
    so the dimensions): the batch page set, the serving sink's base splits
    and the arriving splits are consecutive files of it."""
    n_files = BATCH_FILES + SERVE_BASE_SPLITS + SERVE_ARRIVALS
    raw = os.path.join(out_dir, "raw")
    write_pages(raw, n_pages=n_files * PAGES_PER_FILE, seed=seed, n_parts=n_files)
    dims = os.path.join(out_dir, "dims")
    write_dims(dims, seed=seed)
    files = sorted(os.listdir(raw))
    dirs = {k: os.path.join(out_dir, k) for k in ("pages", "base", "arrivals")}
    for d in dirs.values():
        os.makedirs(d)
    for f in files[:BATCH_FILES]:
        os.rename(os.path.join(raw, f), os.path.join(dirs["pages"], f))
    base = []
    for f in files[BATCH_FILES:BATCH_FILES + SERVE_BASE_SPLITS]:
        base.append(os.path.join(dirs["base"], f))
        os.rename(os.path.join(raw, f), base[-1])
    # arrivals are newer pages: crawled one year later, under their own urls
    arrivals = []
    for k, f in enumerate(files[BATCH_FILES + SERVE_BASE_SPLITS:]):
        t = pq.read_table(os.path.join(raw, f)).to_pandas()
        t["warc_ts"] = t["warc_ts"] + timedelta(days=366)
        t["url"] = t["url"].str.replace("/page-", f"/arrival{k}-page-", regex=False)
        name = f"part-{1000 + k:04d}.parquet"
        pq.write_table(pa.Table.from_pandas(t, preserve_index=False),
                       os.path.join(dirs["arrivals"], name))
        arrivals.append((name, t))
    shutil.rmtree(raw)
    return {
        "pages": dirs["pages"], "dims": dims, "base": dirs["base"],
        "arrivals_dir": dirs["arrivals"],
        "expect": {
            "batch": batch_expectations(dirs["pages"], dims),
            "serve": serve_expectations(base, arrivals, dims, seed),
        },
    }


# -- corpus ------------------------------------------------------------------

_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.145, 0.14, 0.125)


def write_corpus(out_dir: str, seed: int) -> None:
    """Documents and embeddings shaped like the sf0.01 test corpus tables: a
    30-word vocabulary, 10-99 tokens per document, every 20th document a
    near-duplicate (a copy of an earlier original with one appended token),
    20 sources, and 64-dim unit vectors drawn around 10 labelled centres."""
    rng = np.random.default_rng([seed, 11])
    texts: list = []
    originals: list = []
    for i in range(CORPUS_DOCS):
        if i % 20 == 19:  # copies only of originals: every seed's dup graph is stars
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
            continue
        n = int(rng.integers(10, 100))
        originals.append(i)
        texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n)))
    docs = pa.table({
        "doc_id": pa.array(range(CORPUS_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_LANGS[j] for j in rng.choice(5, CORPUS_DOCS, p=_LANG_P)],
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(CORPUS_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    centres = rng.normal(size=(10, EMB_DIM))
    labels = rng.integers(0, 10, CORPUS_VECTORS)
    vecs = centres[labels] + 2.0 * rng.normal(size=(CORPUS_VECTORS, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(range(CORPUS_VECTORS), pa.int64()),
        "embedding": pa.array([list(map(float, v.astype(np.float32))) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')")
    return con


def _rows(con, sql: str) -> list:
    return [list(r) for r in con.sql(sql).fetchall()]


def _table(con, sql: str) -> dict:
    rel = con.sql(sql)
    return {"columns": list(rel.columns),
            "rows": sorted(list(r) for r in rel.fetchall())}


def corpus_expectations(sf_dir: str) -> dict:
    import __spark_entry__ as E
    from security_log_analysis_rust_spark.textops.classifier import (
        pareto_select_oracle_sql,
        score_oracle_sql,
        train_classifier_reference,
    )
    from security_log_analysis_rust_spark.textops.semdedup import (
        semdedup_oracle_sql,
    )

    sql = E.oracle_sql()
    con = _duck(sf_dir)
    try:
        training = _table(con, sql["docs_training_corpus"])
        lsh = _table(con, sql["emb_topk_lsh"])
        sem = _table(con, semdedup_oracle_sql(
            threshold=SEMDEDUP["threshold"], n_centroids=None,
            target_cluster=SEMDEDUP["target_cluster"]))
        dim = CLASSIFIER["dim"]
        trusted = ", ".join(f"'{s}'" for s in TRUSTED_SOURCES)
        labels = _rows(con, "SELECT doc_id, CAST(source IN (" + trusted + ") AS INT) "
                       "FROM documents WHERE trim(text) <> ''")
        feats = _rows(con, f"""
            WITH toks AS (
              SELECT doc_id, unnest(ls) AS tok, len(ls) AS n FROM (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ls
                FROM documents WHERE trim(text) <> ''))
            SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % {dim},
                   count(*) * 1.0 / any_value(n)
            FROM toks GROUP BY 1, 2""")
        model = train_classifier_reference(
            feats, labels, dim, lr=CLASSIFIER["lr"], iters=CLASSIFIER["iters"],
            l2=CLASSIFIER["l2"])
        kept = _rows(con, pareto_select_oracle_sql(score_oracle_sql(
            "SELECT doc_id, text FROM documents", model)))
        scores = _rows(con, score_oracle_sql("SELECT doc_id, text FROM documents",
                                             model))
    finally:
        con.close()
    return {
        "docs": CORPUS_DOCS,
        "vectors": CORPUS_VECTORS,
        "training_corpus": training,
        "emb_topk_lsh": lsh,
        "semdedup": sem,
        "classifier_weights": {str(k): v for k, v in model.weights.items()},
        "classifier_bias": model.bias,
        "pareto_kept": sorted(r[0] for r in kept),
        "scores": {str(d): s for d, s in scores},
    }


def make_corpus(out_dir: str, seed: int) -> dict:
    sf = os.path.join(out_dir, "sf")
    os.makedirs(sf)
    write_corpus(sf, seed)
    return {"sf_dir": sf, "expect": corpus_expectations(sf)}


MAKERS = {"logs": make_logs, "corpus": make_corpus}


def _json_default(o):
    if isinstance(o, (datetime, date)):
        return o.isoformat()
    if isinstance(o, np.integer):
        return int(o)
    if isinstance(o, np.floating):
        return float(o)
    raise TypeError(type(o))


def ensure_inputs(cache_dir: str, workload: str, seed: int) -> str:
    """Generate (once per seed) and return the path of ``spec.json``."""
    final = os.path.join(cache_dir, f"{workload}-seed{seed}-v{INPUT_VERSION}")
    spec_path = os.path.join(final, "spec.json")
    if os.path.exists(spec_path):
        return spec_path
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spec = MAKERS[workload](tmp, seed)
    spec = json.loads(json.dumps(spec, default=_json_default).replace(tmp, final))
    with open(os.path.join(tmp, "spec.json"), "w") as f:
        json.dump(spec, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return spec_path
