"""The repository benchmark: named workloads against moogle_spark's public
API, one client, closed loop, local[nproc].  Every answer is checked
against moogle_spark.oracle; ``--trace 1`` runs the same workload with
spans around each call into a layer and prints per-layer metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root.  The last stdout line is one JSON object
{correct, attempted, failed, metrics}; the lines before it print every
metric by name with its unit.  All scratch state (Spark local dirs, the
cached corpus and oracle, warehouses, trace ledgers) lives under
.perfbench/ in the repository root.  See perfbench/README.md."""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import pickle
import random
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ledger import (  # noqa: E402
    ErrorCounter, RssSampler, Tracer, descendants, median, percentile,
    supported_percentile, wait_ended,
)

N_DOCS = 1000  # fixed corpus size (see README.md: why not 20k)
K = 20
WORKLOADS = ("serve", "ingest")
CHURN_FRAC = 0.02  # docs re-upserted per ingest round
DELETES_PER_ROUND = 5
SHAPES = ["hot", "head", "rare", "multi", "plus", "upper", "absent", "misspelled"]
# one serve block: a plain search of each shape plus one call of each
# other op type; whole blocks keep every run's mix identical
OP_BLOCK = [("plain", shape) for shape in SHAPES] + [
    ("enrich", None), ("page2", None), ("fuzzy", None), ("phrase", None)]
# the corpus and oracle derive only from these modules: a change to any of
# them invalidates the cached copy
_CORPUS_SOURCES = ["corpus.py", "analyzer.py", "stopwords.py", "oracle.py", "scoring.py"]


def stop_spark(spark) -> None:
    """Stop Spark, then end the gateway JVM and its Python workers and wait
    for them: spark.stop() alone leaves the JVM running until this process
    exits, so it would outlive the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    procs = descendants(os.getpid())
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    wait_ended(procs, timeout_s=60)
    proc.wait()


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and size the JVM for a shared machine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["MOOGLE_DRIVER_MEM"] = "2g"
    # every JVM, the spark-submit launcher included (no hsperfdata in /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


# ---------------------------------------------------------------------------
# inputs: the fixed corpus (cached, untimed) and the seeded streams


def corpus_and_oracle():
    """The deterministic N_DOCS corpus as pandas plus its parquet copy and
    oracle index, materialized once per source version and reused: the
    corpus is not part of any workload's timed work, and the 2.4 ms/doc
    oracle build must stay out of every run's time budget."""
    import pandas as pd

    h = hashlib.sha256(str(N_DOCS).encode())
    for name in _CORPUS_SOURCES:
        with open(os.path.join(ROOT, "moogle_spark", name), "rb") as f:
            h.update(f.read())
    cache = os.path.join(WORK, f"corpus-{h.hexdigest()[:16]}")
    if not os.path.exists(os.path.join(cache, "oracle.pkl")):
        from moogle_spark.corpus import generate_docs_local
        from moogle_spark.oracle import build_oracle_index

        for stale in glob.glob(os.path.join(WORK, "corpus-*")):
            shutil.rmtree(stale, ignore_errors=True)
        docs = generate_docs_local(N_DOCS)
        part = f"{cache}.part{os.getpid()}"
        os.makedirs(os.path.join(part, "docs"))
        step = -(-len(docs) // 8)  # 8 files, so Spark reads 8 partitions
        for i in range(0, len(docs), step):
            docs.iloc[i:i + step].to_parquet(
                os.path.join(part, "docs", f"part-{i:06d}.parquet"), index=False
            )
        with open(os.path.join(part, "oracle.pkl"), "wb") as f:
            pickle.dump(build_oracle_index(docs), f)
        os.replace(part, cache)
    with open(os.path.join(cache, "oracle.pkl"), "rb") as f:
        oracle = pickle.load(f)
    docs = pd.read_parquet(os.path.join(cache, "docs"))
    return docs, os.path.join(cache, "docs"), oracle


class Inputs:
    """Every query, phrase, misspelling, churn set, marker term and delete
    batch of a run, drawn from ``random.Random(seed)`` over the oracle's
    vocabulary.  The program sees only the generated strings."""

    def __init__(self, seed: int, oracle, docs) -> None:
        from moogle_spark.analyzer import tokenize_doc
        from moogle_spark.corpus import HOT_TERMS, VOCAB

        self.rng = random.Random(seed)
        self._hot = HOT_TERMS
        # Zipf head: the most frequent generator words that made it into
        # the index; rare: indexed terms in 1..5 docs
        self._head = [w for w in VOCAB[:60] if w in oracle.df]
        self._mid = [w for w in VOCAB[60:600] if w in oracle.df]
        self._rare = sorted(t for t, d in oracle.df.items() if d <= 5)
        self._docs = docs
        self._tokenize = tokenize_doc
        self._vocab = oracle.df
        order = list(range(len(docs)))
        self.rng.shuffle(order)
        self._order = order  # churn and delete sets are disjoint slices
        self._next = 0

    def query(self, shape: str) -> str:
        r = self.rng
        if shape == "hot":
            return r.choice(self._hot)
        if shape == "head":
            return r.choice(self._head)
        if shape == "rare":
            return r.choice(self._rare)
        if shape == "multi":
            return " ".join(r.sample(self._head + self._mid, r.randint(2, 4)))
        if shape == "plus":
            return "+".join(r.sample(self._head + self._mid, r.randint(2, 3)))
        if shape == "upper":
            return r.choice(self._head + self._mid).upper()
        if shape == "absent":
            return "zq" + "".join(r.choice("bcdfghjklmnp") for _ in range(7))
        return self.misspelled()

    def misspelled(self) -> str:
        """A mid-frequency word with one substituted letter (never the
        first, so a fuzzy rewrite can find it again)."""
        r = self.rng
        while True:
            w = r.choice(self._mid)
            i = r.randrange(1, len(w))
            c = r.choice("abcdefghijklmnopqrstuvwxyz".replace(w[i], ""))
            bad = w[:i] + c + w[i + 1:]
            if bad not in self._vocab:
                return bad

    def phrase(self) -> str:
        """Two or three consecutive tokens of a random document."""
        r = self.rng
        while True:
            toks = self._tokenize(self._docs["content"].iloc[r.randrange(len(self._docs))])
            if len(toks) >= 3:
                i = r.randrange(len(toks) - 2)
                return " ".join(toks[i:i + r.randint(2, 3)])

    def op(self, kind: str, shape: str | None = None) -> tuple[str, str]:
        if kind == "fuzzy":
            return kind, self.misspelled()
        if kind == "phrase":
            return kind, self.phrase()
        return kind, self.query(shape or self.rng.choice(SHAPES))

    def block(self) -> list[tuple[str, str]]:
        """One OP_BLOCK in seeded order, with seeded terms."""
        slots = list(OP_BLOCK)
        self.rng.shuffle(slots)
        return [self.op(kind, shape) for kind, shape in slots]

    def ops(self):
        """Endless op stream of whole blocks."""
        while True:
            yield from self.block()

    def burst(self) -> list[tuple[str, str]]:
        """The ingest burst: three plain searches of the shapes that reach
        postings (absent and misspelled terms score nothing)."""
        return [("plain", self.query(self.rng.choice(SHAPES[:6]))) for _ in range(3)]

    def take(self, n: int) -> list[int]:
        """The next ``n`` corpus row positions of the seeded permutation."""
        out = self._order[self._next:self._next + n]
        self._next += n
        return out

    def marker(self, round_no: int) -> str:
        tail = "".join(self.rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(6))
        return f"zqmark{round_no}{tail}"


# ---------------------------------------------------------------------------
# expected answers


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def expected_rewrite(vocab, words: list[str]) -> list[str]:
    """Reference for fuzzy.rewrite_query over a dictionary of ``vocab``:
    each word becomes its closest same-first-letter dictionary term within
    the edit cap (1 up to 4 letters, else min(2, len // 4)), ties to the
    smaller term, or stays as it is."""
    out = []
    for w in (w.lower() for w in words):
        cap = 1 if len(w) <= 4 else min(2, len(w) // 4)
        best = min(
            (
                (_levenshtein(w, t), t)
                for t in vocab
                if t[:1] == w[:1] and abs(len(t) - len(w)) <= 1
            ),
            default=None,
        )
        out.append(best[1] if best is not None and best[0] <= cap else w)
    return out


class Expect:
    """Oracle answers for one corpus state.  ``keys`` compares by document
    key (stable-id warehouses number documents differently from the
    oracle); ties in score may then order differently, so each engine row
    must carry the oracle's score at its rank and a key the oracle gives
    that exact score."""

    def __init__(self, oracle) -> None:
        from moogle_spark.analyzer import tokenize_query

        self.o = oracle
        self._tq = tokenize_query
        m = oracle.meta
        self.key_of = dict(zip(m["doc_id"], zip(m["repo"], m["path"], m["commit"])))
        self.meta = {
            int(d): (r, p, c, lang, int(oracle.doc_len[int(d) - 1]))
            for d, r, p, c, lang in zip(m["doc_id"], m["repo"], m["path"], m["commit"], m["lang"])
        }

    def rows(self, kind: str, q: str):
        """Oracle top-k rows (rank, doc_id, score) for one op."""
        from moogle_spark.oracle import oracle_phrase_search, oracle_search

        if kind == "phrase":
            df = oracle_phrase_search(self.o, q, K)
        elif kind == "page2":
            df = oracle_search(self.o, q, 2 * K)
            df = df[df["rank"] > K]
        elif kind == "fuzzy":
            terms = sorted(set(self._tq(q)))
            df = oracle_search(self.o, " ".join(expected_rewrite(self.o.df, terms)), K)
        else:
            df = oracle_search(self.o, q, K)
        return [(int(r), int(d), repr(float(s))) for r, d, s in zip(df["rank"], df["doc_id"], df["score"])]

    def check_ids(self, kind: str, q: str, got) -> str:
        """Rank-mode check: same rank, doc_id and repr(score); enriched rows
        also carry the oracle's metadata.  Returns '' or the mismatch."""
        want = self.rows(kind, q)
        have = [(int(r["rank"]), int(r["doc_id"]), repr(float(r["score"]))) for r in got]
        if have != want:
            return f"{kind} {q!r}: {have[:3]} != {want[:3]} (n {len(have)} vs {len(want)})"
        if kind == "enrich":
            for r in got:
                if (r["repo"], r["path"], r["commit"], r["lang"], int(r["doc_len"])) != self.meta[int(r["doc_id"])]:
                    return f"enrich {q!r}: metadata of doc {r['doc_id']}"
        return ""

    def check_keys(self, q: str, got_keys_scores: list[tuple[tuple, str]]) -> str:
        """Key-mode top-k check (tie-aware, see class doc)."""
        from moogle_spark.oracle import oracle_search

        full = oracle_search(self.o, q, self.o.n_docs)
        by_score: dict[str, set] = {}
        ranked = []
        for d, s in zip(full["doc_id"], full["score"]):
            rs = repr(float(s))
            by_score.setdefault(rs, set()).add(self.key_of[int(d)])
            ranked.append(rs)
        want = ranked[:K]
        have = [s for _, s in got_keys_scores]
        if have != want:
            return f"{q!r}: scores {have[:3]} != {want[:3]} (n {len(have)} vs {len(want)})"
        keys = [k for k, _ in got_keys_scores]
        if len(set(keys)) != len(keys):
            return f"{q!r}: duplicate keys"
        for k, s in got_keys_scores:
            if k not in by_score[s]:
                return f"{q!r}: {k} does not score {s}"
        return ""


# ---------------------------------------------------------------------------
# Spark-side counters, read from outside the program


class JobCounter:
    """Jobs, stages, tasks and failed tasks since the last read, from
    Spark's StatusTracker.  Jobs are found by the delta in their sequential
    ids, not by job group: build_index submits branches from a thread pool
    whose jobs do not inherit the caller's group.  Valid because one client
    runs."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.st = sc.statusTracker()
        self.last = max(self._ids(), default=-1)

    def _ids(self) -> list[int]:
        # the status store is fed asynchronously: drain the listener bus
        # so every job of the finished call is visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return list(self.st.getJobIdsForGroup(None))

    def delta(self) -> dict:
        new = sorted(i for i in self._ids() if i > self.last)
        out = {"jobs": len(new), "stages": 0, "tasks": 0, "failed_tasks": 0}
        for j in new:
            info = self.st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                st = self.st.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped (its output was reused)
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                out["failed_tasks"] += st.numFailedTasks
        if new:
            self.last = new[-1]
        return out


def cache_mb(sc) -> float:
    """In-memory size of every persisted RDD (the engine's pinned caches)."""
    return sum(i.memSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 2**20


def content_bytes(docs) -> int:
    return int(sum(len(c.encode()) for c in docs["content"]))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# one run: timing, counting and checking around every call into a layer

BUILD_STAGES = ["analyzed", "term_stats", "corpus_stats", "doc_stats", "postings", "doc_lens"]
UPSERT_STAGES = ["gate", "analyzed", "term_stats", "doc_stats", "postings", "doc_lens", "tombstones", "swap"]
TABLES = ["postings", "term_stats", "doc_stats", "doc_lens", "analyzed", "tombstones"]
OP_KINDS = ["plain", "enrich", "page2", "fuzzy", "phrase"]
# the warm-up: one fixed plain search, the same for every seed and commit,
# reported as warmup.plain_s and counted only inside setup_s.  It starts
# the Python workers and compiles the scoring plan; the other op types'
# first calls (≈0.3 s extra, ≈2.5 s for fuzzy) stay in the timed part,
# where they sit above the median.
WARMUP = [("plain", "hotterm0")]


def _make(eng, kind: str, q: str):
    if kind == "phrase":
        return eng.search_phrase(q, k=K)
    return eng.search(
        q, k=K, enrich=kind == "enrich", page=2 if kind == "page2" else 1,
        fuzzy=kind == "fuzzy",
    )


class Run:
    def __init__(self, workload: str, seconds: float, traced: bool, run_dir: str) -> None:
        self.workload = workload
        self.seconds = seconds
        self.tracer = Tracer(traced)
        self.traced = traced
        self.run_dir = run_dir
        self.err = ErrorCounter()
        self.metrics: dict[str, tuple[float, str]] = {}  # every measured value
        self.calls: list[dict] = []
        self.jobs: JobCounter | None = None
        self.spark = None

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def _timed(self, layer: str, name: str, fn):
        with self.tracer.span(layer, name):
            t = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t

    def start(self) -> None:
        from moogle_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        self.spark, dt = self._timed(
            "session", "get_spark",
            lambda: get_spark(app="perfbench", cores=cores, shuffle_partitions=cores),
        )
        self.put("session.start_s", dt, "s")
        if self.traced:
            self.jobs = JobCounter(self.spark.sparkContext)

    def build(self, docs, wh: str, mode: str) -> None:
        from moogle_spark.build import build_index

        if self.jobs:
            self.jobs.delta()
        with self.tracer.span("build", "build_index"):
            t0 = time.perf_counter()
            info = build_index(self.spark, docs, wh, doc_id_mode=mode)
            dt = time.perf_counter() - t0
            secs = info.stage_secs or {}
            self._stage_spans(t0, secs)
        self.put("build.docs_per_s", info.n_docs / dt, "1/s")
        for s in BUILD_STAGES:
            self.put(f"build.stage_s.{s}", secs.get(s, 0.0), "s")
        if self.traced:
            c = self.jobs.delta()
            self.put("build.jobs", c["jobs"], "count")
            self.put("build.tasks", c["tasks"], "count")
            self.put("build.failed_tasks", c["failed_tasks"], "count")

    def _stage_spans(self, t0: float, secs: dict) -> None:
        """Stage spans reconstructed from BuildInfo.stage_secs (durations
        only): analyzed runs first, then build_index's two-worker pool takes
        postings, doc_stats, term_stats+corpus_stats and doc_lens in that
        order, so the branch spans overlap as the real branches do."""
        analyzed = secs.get("analyzed", 0.0)
        self.tracer.add("build", "stage:analyzed", t0, t0 + analyzed)
        free = [t0 + analyzed] * 2
        for branch in (["postings"], ["doc_stats"], ["term_stats", "corpus_stats"], ["doc_lens"]):
            w = free.index(min(free))
            t = free[w]
            for s in branch:
                self.tracer.add("build", f"stage:{s}", t, t + secs.get(s, 0.0))
                t += secs.get(s, 0.0)
            free[w] = t

    def open(self, wh: str):
        from moogle_spark.query import SearchEngine

        eng, dt = self._timed("query", "SearchEngine", lambda: SearchEngine(self.spark, wh))
        self.put("query.engine_open_s", dt, "s")
        return eng

    def call(self, eng, kind: str, q: str, check, timed: bool = True) -> tuple[float | None, list]:
        """One closed-loop client call: plan (the lazy DataFrame), then
        .collect().  A call that raises or fails ``check`` counts as failed;
        ``timed`` calls enter the per-call query figures.  Returns
        (latency_s or None, rows)."""
        rows: list = []
        if self.jobs:
            self.jobs.delta()  # start counting from this call's first job
        try:
            with self.tracer.op(kind):
                t0 = time.perf_counter()
                with self.tracer.span("query", f"plan:{kind}"):
                    df = _make(eng, kind, q)
                t1 = time.perf_counter()
                with self.tracer.span("query", f"exec:{kind}"):
                    rows = df.collect()
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failed call is a measured outcome
            self.err.record(False, f"{kind} {q!r} raised {e!r}"[:300])
            return None, rows
        rec = {"kind": kind, "plan_s": t1 - t0, "exec_s": t2 - t1}
        if self.jobs:
            rec.update(self.jobs.delta())
        if timed:
            self.calls.append(rec)
        problem = check(kind, q, rows)
        self.err.record(not problem, problem)
        return t2 - t0, rows

    def table_bytes(self, wh: str, content_bytes: int) -> None:
        for t in TABLES:
            self.put(f"tables.bytes.{t}", dir_bytes(os.path.join(wh, t)), "B")
        self.put("index_bytes_per_input_byte", dir_bytes(wh) / content_bytes, "ratio")

    def summarize_calls(self) -> None:
        """Per-call query-layer figures over the timed calls."""
        c = self.calls
        if not c:
            return
        self.put("query.plan_ms", median([r["plan_s"] for r in c]) * 1e3, "ms")
        self.put("query.exec_ms", median([r["exec_s"] for r in c]) * 1e3, "ms")
        for kind, name in zip(OP_KINDS, ["search", "enrich", "page2", "fuzzy", "phrase"]):
            lat = [r["plan_s"] + r["exec_s"] for r in c if r["kind"] == kind]
            if lat:
                self.put(f"query.{name}_ms", median(lat) * 1e3, "ms")
        if self.jobs:
            for key in ("jobs", "stages", "tasks"):
                self.put(f"query.{key}_per_call", sum(r[key] for r in c) / len(c), "count")
            self.put("query.failed_tasks", sum(r["failed_tasks"] for r in c), "count")

    def layer_probes(self, eng, wh: str, inputs: Inputs, docs, vocab) -> None:
        """Direct calls into the layers a query or build crosses, timed from
        outside (traced run only, after the workload's timed part)."""
        from pyspark.sql import functions as F

        from moogle_spark import analyzer, codec, fuzzy, scoring
        from moogle_spark.tables import Warehouse

        spark = self.spark
        noop = [self._timed("session", "noop_job", lambda: spark.range(1).collect())[1] for _ in range(5)]
        self.put("session.noop_job_ms", median(noop) * 1e3, "ms")

        words = [inputs.misspelled() for _ in range(3)]
        got, dt = self._timed("fuzzy", "rewrite_query", lambda: fuzzy.rewrite_query(eng.term_stats, words))
        self.put("fuzzy.rewrite_ms", dt * 1e3, "ms")
        want = expected_rewrite(vocab, words)
        self.err.record(got == want, f"rewrite_query {words}: {got} != {want}")

        w = Warehouse(wh)
        snap = [self._timed("tables", "read_snapshot", lambda: w.read_snapshot(spark, "postings"))[1] for _ in range(3)]
        self.put("tables.read_snapshot_ms", median(snap) * 1e3, "ms")
        self.put("query.cache_mb", cache_mb(spark.sparkContext), "MB")

        # postings blocks of the run's query terms, read untimed
        queries = [inputs.query(s) for s in SHAPES for _ in range(5)]
        terms = sorted({t for q in queries for t in analyzer.tokenize_query(q)})
        pdf = (
            w.read(spark, "postings").filter(F.col("term").isin(terms))
            .select("n_docs", "doc_ids", "tfs", "dls").toPandas()
        )
        blocks = list(zip(pdf["n_docs"], pdf["doc_ids"], pdf["tfs"], pdf["dls"]))
        n_post = int(pdf["n_docs"].sum())
        decoded = [(codec.decode_doc_ids(d, n), codec.decode_tfs(t, n), codec.varint_decode(dl, n))
                   for n, d, t, dl in blocks]
        avgdl = eng.avgdl

        def rate(layer: str, name: str, fn, work: int) -> float:
            return work / median([self._timed(layer, name, fn)[1] for _ in range(3)])

        self.put("codec.decode_postings_per_s", rate("codec", "decode", lambda: [
            (codec.decode_doc_ids(d, n), codec.decode_tfs(t, n)) for n, d, t, _ in blocks
        ], n_post), "1/s")
        self.put("codec.encode_postings_per_s", rate("codec", "encode", lambda: [
            (codec.encode_doc_ids(ids), codec.encode_tfs(tfs)) for ids, tfs, _ in decoded
        ], n_post), "1/s")
        self.put("scoring.tfpart_postings_per_s", rate("scoring", "bm25_tfpart", lambda: [
            scoring.bm25_tfpart(tfs, dls, avgdl) for _, tfs, dls in decoded
        ], n_post), "1/s")
        roundtrip = all(
            codec.encode_doc_ids(ids) == bytes(d) and codec.encode_tfs(tfs) == bytes(t)
            for (ids, tfs, _), (_, d, t, _) in zip(decoded, blocks)
        )
        self.err.record(roundtrip, "codec encode(decode(block)) != block")

        sample = [docs["content"].iloc[i] for i in inputs.rng.sample(range(len(docs)), 200)]
        self.put("analyzer.tokenize_doc_docs_per_s", rate("analyzer", "tokenize_doc", lambda: [
            analyzer.tokenize_doc(c) for c in sample
        ], len(sample)), "1/s")
        self.put("analyzer.tokenize_query_us", 1e6 / rate("analyzer", "tokenize_query", lambda: [
            analyzer.tokenize_query(q) for q in queries * 50
        ], len(queries) * 50), "us")


# ---------------------------------------------------------------------------
# workloads


def serve(run: Run, docs, docs_path: str, oracle, inputs: Inputs) -> None:
    """Sequential search(q, k=20).collect() calls over a rank-mode index
    pinned in the engine cache, with the seeded op mix."""
    exp = Expect(oracle)
    wh = os.path.join(prebuilt_index(docs_path), "rank")
    t0 = time.perf_counter()
    run.start()
    eng = run.open(wh)
    warm_up(run, eng, exp.check_ids)
    setup_s = time.perf_counter() - t0

    lats = []
    t_loop = time.perf_counter()
    for i, (kind, q) in enumerate(inputs.ops()):
        # stop at a block boundary, so every run holds whole op blocks
        if i % len(OP_BLOCK) == 0 and time.perf_counter() - t_loop >= run.seconds:
            break
        lat, _ = run.call(eng, kind, q, exp.check_ids)
        if lat is not None:
            lats.append(lat)

    run.put("setup_s", setup_s, "s")
    _latencies(run, lats, "search")
    run.put("op_p50_s", median(lats), "s")
    run.summarize_calls()
    run.table_bytes(wh, content_bytes(docs))
    if run.traced:
        run.layer_probes(eng, wh, inputs, docs, oracle.df)
        run.build(run.spark.read.parquet(docs_path), os.path.join(run.run_dir, "probe_wh"), "rank")
    eng.unpersist()


def warm_up(run: Run, eng, check) -> None:
    for kind, q in WARMUP:
        lat, _ = run.call(eng, kind, q, check, timed=False)
        run.put(f"warmup.{kind}_s", lat or 0.0, "s")


def prebuilt_index(docs_path: str) -> str:
    """Warehouses of the corpus in both id modes (``rank/``, ``stable/``),
    built once per source version of moogle_spark in a child process (so
    no run starts with a warm JVM) and reused by later runs.  Each run
    starts Spark cold; a cold build on top (≈20 s) would not fit the run
    budget, so builds are measured in traced runs (build.*)."""
    h = hashlib.sha256(docs_path.encode())
    for name in sorted(glob.glob(os.path.join(ROOT, "moogle_spark", "*.py"))):
        with open(name, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, f"index-{h.hexdigest()[:16]}")
    if not os.path.exists(out):
        for stale in glob.glob(os.path.join(WORK, "index-*")):
            shutil.rmtree(stale, ignore_errors=True)
        part = f"{out}.part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        import subprocess

        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build-index", part,
             "--docs", docs_path],
            check=True, timeout=900, stdout=subprocess.DEVNULL,
        )
        os.replace(part, out)
    return out


def _build_index_main(out: str, docs_path: str) -> None:
    from moogle_spark.build import build_index
    from moogle_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app="perfbench-prebuild", cores=cores, shuffle_partitions=cores)
    try:
        docs = spark.read.parquet(docs_path)
        for mode in ("rank", "stable"):
            build_index(spark, docs, os.path.join(out, mode), doc_id_mode=mode)
    finally:
        stop_spark(spark)


def _latencies(run: Run, lats: list[float], name: str) -> None:
    if not lats:
        raise RuntimeError(f"no {name} call succeeded")
    run.put("search_p50_ms", median(lats) * 1e3, "ms")
    run.put(f"{name}_p50_ms", median(lats) * 1e3, "ms")
    run.put(f"{name}_calls", len(lats), "count")
    p = supported_percentile(len(lats))
    if p is not None and p > 50:
        run.put(f"{name}_p{p}_ms", percentile(lats, p) * 1e3, "ms")


def ingest(run: Run, docs, docs_path: str, oracle, inputs: Inputs) -> None:
    """Over a copy of the stable-id index: rounds of one segment upsert
    (each doc carrying a round-unique marker term) with a small delete
    batch, refresh, a marker probe and a short search burst.  Traced runs
    then also compact the segments and check again."""
    from moogle_spark.oracle import build_oracle_index
    from moogle_spark.segments import compact_segments
    from moogle_spark.stable import incremental_build_stable
    from moogle_spark.tables import Warehouse

    prebuilt = os.path.join(prebuilt_index(docs_path), "stable")
    t0 = time.perf_counter()
    run.start()
    spark = run.spark
    wh = os.path.join(run.run_dir, "wh")
    with run.tracer.span("bench", "copy_warehouse"):
        shutil.copytree(prebuilt, wh)
    eng = run.open(wh)
    base = Expect(oracle)
    t_map = time.perf_counter()
    key_of = _key_map(spark, wh)  # checking aid, not set-up: subtracted
    t_map = time.perf_counter() - t_map
    warm_up(run, eng, lambda k, qq, rows: _check_by_key(base, k, qq, rows, key_of))
    setup_s = time.perf_counter() - t0 - t_map

    current = docs.copy()  # index = position in the original corpus
    n_churn = max(1, int(CHURN_FRAC * len(docs)))
    deleted: set = set()
    markers: list[str] = []
    fresh, upsert_rate, burst, refresh_s = [], [], [], []
    ustages: dict[str, list[float]] = {s: [] for s in UPSERT_STAGES}
    t_loop = time.perf_counter()
    rnd = 0
    while rnd == 0 or time.perf_counter() - t_loop < run.seconds:
        # churn and delete sets are disjoint slices of one seeded
        # permutation, so every doc changes at most once per run
        marker = inputs.marker(rnd)
        markers.append(marker)
        rows, drop = inputs.take(n_churn), inputs.take(DELETES_PER_ROUND)
        churn = docs.loc[rows].copy()
        churn["content"] = churn["content"] + " " + marker
        churn_keys = set(zip(churn["repo"], churn["path"], churn["commit"]))
        dels = docs.loc[drop, ["repo", "path", "commit"]]
        churn_df = spark.createDataFrame(churn)
        dels_df = spark.createDataFrame(dels)

        t_w = time.perf_counter()
        try:
            with run.tracer.op("ingest_round"):
                # the delete batch rides in the same writer call (the
                # function delete_docs wraps): a second writer pass per
                # round would not fit the run budget
                info, dt = run._timed("stable", "incremental_build_stable", lambda: incremental_build_stable(
                    spark, churn_df, wh, mode="upsert", strategy="segment", deletes=dels_df))
                upsert_rate.append(len(churn) / dt)
                for s in UPSERT_STAGES:
                    ustages[s].append((info.stage_secs or {}).get(s, 0.0))
                refresh_s.append(run._timed("query", "refresh", eng.refresh)[1])
                with run.tracer.span("query", "marker_probe"):
                    got = eng.search(marker, k=n_churn + K, enrich=True).collect()
        except Exception as e:  # noqa: BLE001 — a failed write or probe is a measured outcome
            run.err.record(False, f"round {rnd} raised {e!r}"[:300])
            break
        keys = [(r["repo"], r["path"], r["commit"]) for r in got]
        ok = set(keys) == churn_keys and len(keys) == len(churn_keys)
        run.err.record(ok, f"round {rnd} marker probe: {len(set(keys) & churn_keys)}/{len(churn_keys)} docs, {len(keys)} rows")
        if ok:
            fresh.append(time.perf_counter() - t_w)
        # bring the benchmark's copy of the corpus up to date (untimed);
        # deleted docs were never upserted, so they keep their setup ids
        current.loc[rows, "content"] = churn["content"]
        current = current.drop(index=drop)
        deleted |= set(zip(dels["repo"], dels["path"], dels["commit"]))
        dead_ids = {i for i, k in key_of.items() if k in deleted}

        for kind, q in inputs.burst():
            lat, _ = run.call(eng, kind, q, lambda k, qq, rows: _check_deleted(rows, dead_ids))
            if lat is not None:
                burst.append(lat)
        rnd += 1

    # once per run, outside every timed region: the probe queries' top-k
    # (keys and scores) against an oracle of the final corpus
    final = Expect(build_oracle_index(current.reset_index(drop=True)))
    probes = [inputs.query(s) for s in SHAPES if s != "misspelled"] + markers
    _final_check(run, eng, final, probes, "segmented")
    w = Warehouse(wh)
    n_tombs = int(w.manifest("tombstones").get("n_tombs", 0)) if w.is_committed("tombstones") else 0

    run.put("setup_s", setup_s, "s")
    run.put("freshness_s", median(fresh) if fresh else float("nan"), "s")
    run.put("op_p50_s", run.metrics["freshness_s"][0], "s")
    run.put("upsert_docs_per_s", median(upsert_rate) if upsert_rate else float("nan"), "docs/s")
    run.put("rounds", rnd, "count")
    _latencies(run, burst, "churn_search")
    run.summarize_calls()
    run.table_bytes(wh, content_bytes(current))
    for s in UPSERT_STAGES:
        if ustages[s]:
            run.put(f"stable.upsert.stage_s.{s}", median(ustages[s]), "s")
    run.put("segments.tombstones", n_tombs, "count")
    if run.traced:
        # compaction (≈10 s with its refresh) runs in traced runs only:
        # the untraced run budget cannot hold it
        _, compact_s = run._timed("segments", "compact_segments", lambda: compact_segments(spark, wh))
        refresh_s.append(run._timed("query", "refresh", eng.refresh)[1])
        run.put("segments.compact_s", compact_s, "s")
        _final_check(run, eng, final, probes, "compacted")
        run.layer_probes(eng, wh, inputs, current, final.o.df)
        run.build(spark.read.parquet(docs_path), os.path.join(run.run_dir, "probe_wh"), "stable")
    run.put("query.refresh_s", median(refresh_s), "s")
    eng.unpersist()


def _final_check(run: Run, eng, final: Expect, probes: list[str], state: str) -> None:
    """One search_many(enrich=True) over ``probes``, each query's top-k
    checked by key and score against the final-corpus oracle."""
    try:
        with run.tracer.op(f"final_probes:{state}"), run.tracer.span("query", "search_many"):
            got = eng.search_many(probes, k=K, enrich=True).collect()
    except Exception as e:  # noqa: BLE001 — a failed check is a measured outcome
        run.err.record(False, f"{state} final probes raised {e!r}"[:300])
        return
    for i, q in enumerate(probes):
        rows = sorted((r for r in got if r["query_id"] == i), key=lambda r: r["rank"])
        problem = final.check_keys(q, [((r["repo"], r["path"], r["commit"]), repr(float(r["score"]))) for r in rows])
        run.err.record(not problem, f"{state} final probe {problem}")


def _key_map(spark, wh: str) -> dict:
    """doc_id -> (repo, path, commit) over every row of doc_stats, dead
    ones included (a tombstoned id must still be recognisable)."""
    from moogle_spark.tables import Warehouse

    rows = Warehouse(wh).read(spark, "doc_stats").select("doc_id", "repo", "path", "commit").collect()
    return {int(r["doc_id"]): (r["repo"], r["path"], r["commit"]) for r in rows}


def _check_by_key(exp: Expect, kind: str, q: str, rows, key_of: dict) -> str:
    if kind not in ("plain", "enrich"):
        return ""  # other op types are checked by id on rank-mode serve
    return exp.check_keys(q, [(key_of.get(int(r["doc_id"])), repr(float(r["score"]))) for r in rows])


def _check_deleted(rows, dead_ids: set) -> str:
    for r in rows:
        if int(r["doc_id"]) in dead_ids:
            return f"deleted doc {r['doc_id']} returned"
    return ""


# ---------------------------------------------------------------------------
# reporting

# what the result line carries: every run reports each of these, whatever
# the workload (see README.md for what each means per workload)
E2E = ["setup_s", "op_p50_s", "search_p50_ms", "index_bytes_per_input_byte", "peak_rss_mb"]
PER_LAYER = (
    ["session.start_s", "session.noop_job_ms",
     "query.plan_ms", "query.exec_ms", "query.jobs_per_call", "query.stages_per_call",
     "query.tasks_per_call", "query.failed_tasks", "query.search_ms",
     "query.engine_open_s", "query.cache_mb", "fuzzy.rewrite_ms",
     "codec.decode_postings_per_s", "codec.encode_postings_per_s", "scoring.tfpart_postings_per_s",
     "analyzer.tokenize_doc_docs_per_s", "analyzer.tokenize_query_us",
     "build.docs_per_s", "build.jobs", "build.tasks", "build.failed_tasks",
     "tables.read_snapshot_ms"]
    + [f"build.stage_s.{s}" for s in BUILD_STAGES if s != "corpus_stats"]
    + [f"tables.bytes.{t}" for t in TABLES if t != "tombstones"]
    + [f"self_s.{layer}" for layer in
       ("bench", "session", "build", "query", "tables", "fuzzy", "codec", "scoring", "analyzer")]
    + ["trace.unattributed_s", "trace.overhead_ms"]
)


def _span_cost_s() -> float:
    """Measured cost of recording one span."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(2000):
        with t.span("x", "y"):
            pass
    return (time.perf_counter() - t0) / 2000


def write_ledger(run: Run, seed: int, wall_s: float) -> None:
    """Per-layer self times, the unattributed remainder and the tracing
    overhead; spans go to .perfbench/trace-<workload>-<seed>.json."""
    self_s = run.tracer.layer_self_times()
    for layer in ("bench", "session", "build", "query", "tables", "fuzzy",
                  "codec", "scoring", "analyzer", "stable", "segments"):
        run.put(f"self_s.{layer}", self_s.get(layer, 0.0), "s")
    run.put("trace.unattributed_s", wall_s - run.tracer.covered_s(), "s")
    run.put("trace.overhead_ms", len(run.tracer.spans) * _span_cost_s() * 1e3, "ms")
    ledger = {
        "workload": run.workload, "seed": seed, "wall_s": wall_s,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()},
        "spans": run.tracer.spans,
    }
    untraced = os.path.join(WORK, f"untraced-{run.workload}-{seed}.json")
    if os.path.exists(untraced):
        # traced minus untraced end-to-end figures of the same seed
        with open(untraced) as f:
            base = json.load(f)
        ledger["overhead_vs_untraced"] = {
            k: run.metrics[k][0] - v for k, v in base.items() if k in run.metrics
        }
    with open(os.path.join(WORK, f"trace-{run.workload}-{seed}.json"), "w") as f:
        json.dump(ledger, f, indent=1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the child process of prebuilt_index
    ap.add_argument("--build-index", help=argparse.SUPPRESS)
    ap.add_argument("--docs", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "moogle_spark", "query.py")):
        print(f"moogle_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.build_index:
        sys.path.insert(0, ROOT)
        _build_index_main(args.build_index, args.docs)
        return 0
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _prepare_env(run_dir)
    sys.path.insert(0, ROOT)
    run = Run(args.workload, args.seconds, bool(args.trace), run_dir)
    try:
        docs, docs_path, oracle = corpus_and_oracle()
        inputs = Inputs(args.seed, oracle, docs)
        with RssSampler(os.getpid()) as rss:
            t0 = time.perf_counter()
            {"serve": serve, "ingest": ingest}[args.workload](run, docs, docs_path, oracle, inputs)
            wall_s = time.perf_counter() - t0
        run.put("peak_rss_mb", rss.peak_mb, "MB")
        run.put("error_rate", run.err.rate, "fraction")
        if run.traced:
            write_ledger(run, args.seed, wall_s)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if not run.traced:
        with open(os.path.join(WORK, f"untraced-{run.workload}-{args.seed}.json"), "w") as f:
            json.dump({k: run.metrics[k][0] for k in E2E}, f)
    for name, (value, unit) in sorted(run.metrics.items()):
        print(f"{run.workload:7s} {name:40s} {value:14.6g} {unit}")
    for reason in run.err.reasons[:20]:
        print(f"FAILED: {reason}")
    names = PER_LAYER if run.traced else E2E
    print(json.dumps({
        "correct": run.err.failed == 0,
        "attempted": run.err.attempted,
        "failed": run.err.failed,
        "metrics": {n: {"value": run.metrics[n][0], "unit": run.metrics[n][1]} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
