"""The workloads: ``table_queries`` and ``stream_waves``.

Each workload generates its inputs before the session starts, warms up
on its own operations, then runs whole rounds of its operations in a
closed loop until the timed window has passed, and finally checks the
engine's outputs against computations made apart from it (DuckDB, or
plain Python).

Every end-to-end metric is reported by every workload:

- ``pass_s``: one pass over the workload's operation kinds, as the sum
  of each kind's median wall time (every query once, or one wave, one
  read and one expiry);
- ``write_s``: median wall time of one write: a stream wave's folds up
  to the last state commit, or a query's materialisation to the noop
  sink.

There is no throughput metric: with one client in a closed loop, items
per second of the timed phase is the items of a round over the round's
wall time, a second and noisier reading of ``pass_s``.
"""

from __future__ import annotations

import json
import os
import random
import re
import time

import duckdb
import pandas as pd

import gen
from harness import concurrently, dir_bytes, mean, median
from spans import Tracer

_NO_TRACE = Tracer(False)
# threads of the untimed warm-up; the timed phase runs on one
WARM_THREADS = 3

QUERIES = (
    "flagship_dedup_join",
    "join_left_outer",
    "as_of_join_events",
    "temporal_join_current",
    "unnest_outer_items",
    "tumble_hop_events",
    "window_dedup_last_per_hour",
    "window_topn_event_types",
    "window_join_same_hour",
    "sessionize_events",
    "banded_interval_join",
    "topk_orders_per_customer",
    "q3_revenue_by_order",
    "q18_large_volume_customer",
    "corpus_sampling",
)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        df[c] = s.map(lambda v: "<null>" if v is None or v != v else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive comparison of two result frames."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    a, b = _canon(got), _canon(want)
    if not a.equals(b):
        bad = int((a != b).any(axis=1).sum())
        return [f"{name}: values differ in {bad} rows"]
    return []


def per_op(tracer, records, name: str, kind: str) -> float:
    """Median over ``kind`` operations of the seconds spent in ``name``
    spans within each operation (0 for an operation with none)."""
    per = {r.op: 0.0 for r in records if r.kind == kind}
    for op, s in tracer.durations(name):
        if op in per:
            per[op] += s
    return median(per.values())


class Workload:
    name = ""
    # the operation kind that per-layer "per op" figures count; "" counts
    # every operation
    write_kind = ""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.problems: list[str] = []


# ---------------------------------------------------------------------------


class TableQueries(Workload):
    """Whole passes over the registry queries in a seeded order. Each
    operation builds one query and materialises it to the noop sink."""

    name = "table_queries"
    PASSES = 2

    def generate(self) -> None:
        from flink_playground_spark.queries import EXTRA_REGISTRY, REGISTRY
        from flink_playground_spark.sources.tables import TABLES

        self.sf_dir = gen.tables(f"{self.work}/tables")
        catalog = {**REGISTRY, **EXTRA_REGISTRY}
        self.defs = {q: catalog[q] for q in QUERIES}
        con = duckdb.connect()
        for t in TABLES:
            p = f"{self.sf_dir}/{t}.parquet"
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        self.oracle = {q: con.sql(d.oracle).fetchdf() for q, d in self.defs.items()}
        con.close()
        self.exec_s: list[float] = []

    def instrument(self, tracer) -> None:
        from flink_playground_spark import queries

        tracer.wrap(queries, "load_table", "sources.load_table")

    def warmup(self, spark, runner, tracer) -> None:
        # the warm-up pass collects every result and checks it against
        # its DuckDB oracle; it is untimed and runs WARM_THREADS queries
        # at a time
        got = concurrently(
            spark,
            [lambda q=q: self.defs[q].spark_fn(spark, self.sf_dir).toPandas() for q in QUERIES],
            WARM_THREADS,
        )
        for q, df in zip(QUERIES, got):
            self.problems += compare(q, df, self.oracle[q])

    def _query(self, spark, tracer, q: str) -> None:
        with tracer.span("queries.build"):
            df = self.defs[q].spark_fn(spark, self.sf_dir)
        with tracer.span("queries.execute"):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            self.exec_s.append(time.perf_counter() - t0)

    def timed(self, spark, runner, tracer, deadline: float) -> None:
        # a round is PASSES passes, each in its own seeded order, so that
        # every query's figure is a median over at least PASSES runs of it
        while time.perf_counter() < deadline:
            for _ in range(self.PASSES):
                order = list(QUERIES)
                self.rng.shuffle(order)
                for q in order:
                    runner.run(q, lambda q=q: self._query(spark, tracer, q), items=1)

    def check(self, spark, runner) -> None:
        pass  # every result was checked in the warm-up pass

    def e2e(self, records) -> dict[str, float]:
        # per query, the median over passes; then the mean over the 15
        # queries: a median across queries would jump between the
        # neighbouring queries' times from run to run
        per_q: dict[str, list[float]] = {}
        exec_q: dict[str, list[float]] = {}
        for r, x in zip(records, self.exec_s):
            per_q.setdefault(r.kind, []).append(r.seconds)
            exec_q.setdefault(r.kind, []).append(x)
        return {
            "pass_s": sum(median(v) for v in per_q.values()),
            "write_s": mean(median(v) for v in exec_q.values()),
        }

    def layers(self, tracer, records) -> dict[str, float]:
        out = {}
        n = len(QUERIES)
        for key, name in (("queries.build_s", "queries.build"), ("queries.execute_s", "queries.execute")):
            spent = dict(tracer.durations(name))
            # records come in pass order, one op per query per pass
            out[key] = median(
                sum(spent.get(r.op, 0.0) for r in records[i : i + n]) for i in range(0, len(records), n)
            )
        return out


# ---------------------------------------------------------------------------


def _manifest(path: str) -> str:
    with open(f"{path}/manifest.json") as fh:
        return fh.read()


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class EventStream:
    """The event half of a stream wave: a window top-N over user keys
    and a keep-latest state per user, both exactly-once."""

    STATES = ("topn", "latest")

    def __init__(self, work: str, seed: int, n_waves: int):
        self.paths = gen.event_waves(f"{work}/events", seed, n_waves)
        self.users_path = f"{work}/events/users.parquet"
        self.cutoff: str | None = None

    @staticmethod
    def instrument(tracer) -> None:
        from flink_playground_spark.streaming import txn_state, window_topn

        for m in ("ingest", "expire", "topn"):
            tracer.wrap(window_topn.StreamingWindowTopN, m, f"window_topn.{m}")
        for m in ("merge_keep_latest", "merge_aggregate", "read", "prune"):
            tracer.wrap(txn_state.TransactionalKeyState, m, f"txn_state.{m}")

    def open(self, root: str) -> None:
        from flink_playground_spark.streaming.txn_state import TransactionalKeyState
        from flink_playground_spark.streaming.window_topn import StreamingWindowTopN

        self.root = root
        self.topn = StreamingWindowTopN(f"{root}/topn", key_col="user_id", size=gen.WINDOW)
        self.latest = TransactionalKeyState(f"{root}/latest", ["user_id"], n_buckets=8)
        self.cutoff = None

    def fold(self, spark, b: int):
        df = spark.read.parquet(self.paths[b])
        return self.topn.ingest(df, b), self.latest.merge_keep_latest("latest", b, df, "ts", ["event_id"])

    def latest_join(self, spark):
        users = spark.read.parquet(self.users_path)
        return (
            self.latest.read(spark)
            .join(users, "user_id", "left")
            .select("user_id", "event_id", "ts", "event_type", "value", "segment", "country")
        )

    def read(self, spark, tracer):
        with tracer.span("read.topn"):
            topn = self.topn.topn(spark, gen.TOPN).toPandas()
        with tracer.span("read.latest_join"):
            latest = self.latest_join(spark).toPandas()
        return topn, latest

    def expire(self, spark, b: int) -> int:
        """After wave ``b``, windows ending before wave ``b``'s hour
        expire: the next wave's late events reach back only into wave
        ``b``'s hour, so none can land in them later. Returns the rows
        dropped."""
        self.cutoff = str(gen.EPOCH + pd.Timedelta(hours=b))
        return self.topn.expire(spark, self.cutoff)

    def buckets(self) -> dict[str, dict]:
        return {p: json.loads(_manifest(f"{self.root}/{p}"))["buckets"] for p in self.STATES}

    def check(self, spark, runner, n_waves: int) -> list[str]:
        files = ", ".join(f"'{p}'" for p in self.paths[:n_waves])
        con = duckdb.connect()
        con.sql(f"CREATE VIEW ev AS SELECT * FROM read_parquet([{files}])")
        con.sql(f"CREATE VIEW users AS SELECT * FROM '{self.users_path}'")
        problems = []
        # the union must hold late events, or the check could not see
        # them mishandled
        late = sum(
            int((pd.read_parquet(p, columns=["ts"])["ts"] < gen.EPOCH + pd.Timedelta(hours=b)).sum())
            for b, p in enumerate(self.paths[:n_waves])
        )
        if not late:
            problems.append("events: the ingested waves hold no late event")
        keep = f"WHERE window_end >= TIMESTAMP '{self.cutoff}'" if self.cutoff else ""
        want_topn = con.sql(
            f"""
            WITH c AS (
              SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
                     user_id, COUNT(*) AS cnt
              FROM ev GROUP BY ALL),
            w AS (SELECT *, window_start + INTERVAL 10 MINUTE AS window_end FROM c),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start ORDER BY cnt DESC, user_id) AS rn
                  FROM w {keep})
            SELECT window_start, window_end, user_id, cnt, rn FROM r WHERE rn <= {gen.TOPN}
            """
        ).fetchdf()
        want_latest = con.sql(
            """
            WITH l AS (SELECT * FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM ev) WHERE rn = 1)
            SELECT l.user_id, l.event_id, l.ts, l.event_type, l.value, u.segment, u.country
            FROM l LEFT OUTER JOIN users u USING (user_id)
            """
        ).fetchdf()
        con.close()
        got_topn, got_latest = runner.run("check", lambda: self.read(spark, _NO_TRACE), record=False)
        problems += compare("topn", got_topn, want_topn) + compare("latest_join", got_latest, want_latest)
        # replaying the last wave under its batch id is skipped and
        # leaves both state manifests as they were
        b = n_waves - 1
        before = [_manifest(f"{self.root}/{p}") for p in self.STATES]
        skipped = runner.run("check", lambda: self.fold(spark, b), record=False)
        if skipped != (False, False):
            problems.append(f"event replay of wave {b} was not skipped: {skipped}")
        if before != [_manifest(f"{self.root}/{p}") for p in self.STATES]:
            problems.append(f"event replay of wave {b} changed a state manifest")
        return problems

    def live_files(self) -> int:
        n = 0
        for p, buckets in self.buckets().items():
            for k, v in buckets.items():
                d = f"{self.root}/{p}/t{v}/__bucket={k}"
                n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        return n


_TOKEN = re.compile(r"[a-z0-9]+")


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-grams as ``functions/text.tokens`` documents them:
    lowercase alphanumeric runs, joined by single spaces."""
    toks = _TOKEN.findall(text.lower())
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


class DocStream:
    """The document half of a stream wave: the streaming MinHash
    near-dup pipeline with ``bench.py``'s ``minhash`` configuration."""

    K, BANDS, NGRAM, THRESHOLD = 128, 32, 3, 0.8

    def __init__(self, work: str, seed: int, n_waves: int):
        self.paths, self.texts, self.planted = gen.doc_waves(f"{work}/docs", seed, n_waves)

    @staticmethod
    def instrument(tracer) -> None:
        from flink_playground_spark.streaming import cc_index, dedup_pipeline, minhash_index, txn_state

        for m in ("ingest", "pairs_for_batch", "pairs"):
            tracer.wrap(minhash_index.StreamingMinHashIndex, m, f"minhash_index.{m}")
        for m in ("ingest", "mapping"):
            tracer.wrap(cc_index.StreamingDupClusters, m, f"cc_index.{m}")
        for m in ("ingest", "pairs", "mapping"):
            tracer.wrap(dedup_pipeline.StreamingNearDupPipeline, m, f"dedup_pipeline.{m}")
        tracer.wrap(txn_state.AppendDeltaState, "append", "append_delta.append")
        for f in ("shingle_index", "minhash_signatures", "verify_pairs"):
            tracer.wrap(minhash_index, f, f"functions.{f}")
        tracer.wrap(cc_index, "connected_components", "operators.connected_components")

    def open(self, root: str) -> None:
        from flink_playground_spark.streaming.dedup_pipeline import StreamingNearDupPipeline
        from flink_playground_spark.streaming.minhash_index import StreamingMinHashIndex

        self.root = root
        self.pipe = StreamingNearDupPipeline(
            root,
            StreamingMinHashIndex(f"{root}/idx", k=self.K, bands=self.BANDS, n=self.NGRAM, threshold=self.THRESHOLD),
        )

    def fold(self, spark, b: int) -> None:
        self.pipe.ingest(spark.read.parquet(self.paths[b]), b)

    def read(self, spark, tracer):
        with tracer.span("read.pairs"):
            pairs = self.pipe.pairs(spark).toPandas()
        with tracer.span("read.mapping"):
            mapping = self.pipe.mapping(spark).toPandas()
        return pairs, mapping

    def _ledger_manifests(self) -> list[str]:
        out = []
        for root, _, files in sorted(os.walk(self.root)):
            if "manifest.json" in files:
                out.append(_manifest(root))
        return out

    def check(self, spark, runner, n_waves: int) -> list[str]:
        problems = []
        pairs, mapping = runner.run("check", lambda: self.read(spark, _NO_TRACE), record=False)
        ingested = set()
        for p in self.paths[:n_waves]:
            ingested.update(pd.read_parquet(p, columns=["doc_id"])["doc_id"].tolist())
        sh = {d: shingles(self.texts[d], self.NGRAM) for d in ingested}
        bad = sum(
            1
            for a, b, j in pairs[["id_a", "id_b", "jaccard"]].itertuples(index=False)
            if round(jaccard(sh[a], sh[b]), 6) < self.THRESHOLD or abs(round(jaccard(sh[a], sh[b]), 6) - j) > 1e-9
        )
        if bad:
            problems.append(f"docs: {bad} emitted pairs below the threshold or with a wrong Jaccard")
        found = {(int(a), int(b)) for a, b in zip(pairs["id_a"], pairs["id_b"])}
        missed = [
            (s, c)
            for s, c in self.planted
            if s in ingested and c in ingested and jaccard(sh[s], sh[c]) >= 0.9 and (min(s, c), max(s, c)) not in found
        ]
        if missed:
            problems.append(f"docs: {len(missed)} planted pairs with Jaccard >= 0.9 not found")
        parent: dict[int, int] = {}

        def root(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in found:
            ra, rb = root(a), root(b)
            parent[max(ra, rb)] = min(ra, rb)
        # union by smaller root keeps every root the smallest member id,
        # which is the engine's canonical cluster label
        want = {x: root(x) for x in list(parent)}
        got = {int(n): int(c) for n, c in zip(mapping["node"], mapping["comp"])}
        if got != want:
            problems.append(
                f"docs: cluster mapping differs from the pairs' connected components ({len(got)} vs {len(want)} nodes)"
            )
        # replaying the last wave is skipped and changes no ledger
        before = self._ledger_manifests()
        runner.run("check", lambda: self.fold(spark, n_waves - 1), record=False)
        if before != self._ledger_manifests():
            problems.append(f"doc replay of wave {n_waves - 1} changed a ledger manifest")
        return problems

    def ledgers(self) -> list[dict]:
        m = self.pipe.ops_metrics()
        return [v for v in (*m["index"].values(), *m["clusters"].values()) if isinstance(v, dict) and "live_deltas" in v]


class StreamWaves(Workload):
    """A stream whose every wave carries ~10^5 events and a batch of
    documents. One write folds both halves exactly once; a read collects
    the window top-N, the latest event per user joined to the user
    dimension, the near-dup pairs and the cluster mapping, and runs
    ``READS`` times between waves (a reader polling the state); expiry
    drops old windows after every wave.

    Warm-up folds the first ``WARM_WAVES`` waves into the state the
    timed phase keeps, so every timed wave merges into existing state,
    carries late events and near-duplicates of earlier waves, and is
    followed by an expiry that drops windows."""

    name = "stream_waves"
    write_kind = "wave"
    # a read is the shortest operation and the most easily disturbed;
    # three per round make its share of ``pass_s`` a median of three.
    # The read path keeps getting faster over its first few runs, so
    # warm-up runs as many reads, WARM_THREADS at a time
    READS = 3
    # the operation kinds whose medians ``pass_s`` sums
    KINDS = ("wave", "read", "expire")
    WARM_WAVES = 1
    # a round takes 16-28 s on a 4-core host, so a 10 s window folds
    # one wave; three leave room for an engine several times faster
    TIMED_WAVES = 3

    def generate(self) -> None:
        self.n_waves = self.WARM_WAVES + self.TIMED_WAVES
        self.events = EventStream(self.work, self.seed, self.n_waves)
        self.docs = DocStream(self.work, self.seed, self.n_waves)
        self.wave_stats: list[tuple[int, int, float]] = []
        self.pairs_per_wave: list[int] = []
        self.expired_rows = 0

    def instrument(self, tracer) -> None:
        EventStream.instrument(tracer)
        DocStream.instrument(tracer)

    def _wave(self, spark, b: int) -> None:
        self.events.fold(spark, b)
        self.docs.fold(spark, b)

    def _read(self, spark, tracer) -> None:
        self.events.read(spark, tracer)
        self.docs.read(spark, tracer)

    def _round(self, spark, runner, tracer) -> None:
        b = self.next_wave
        if self.trace:
            files0 = _parquet_files(self.events.root)
            buckets0 = self.events.buckets()
        n = gen.WAVE_EVENTS + gen.WAVE_DOCS
        runner.run("wave", lambda: self._wave(spark, b), items=n)
        if self.trace:
            files1 = _parquet_files(self.events.root)
            new = [p for p in files1 if p not in files0]
            touched = sum(
                1 for p, bk in self.events.buckets().items() for k, v in bk.items() if buckets0[p].get(k) != v
            )
            self.wave_stats.append((touched, len(new), sum(files1[p] for p in new) / 1e6))
            self.pairs_per_wave.append(self.docs.pipe.index.pairs_for_batch(spark, b).count())
        self.next_wave += 1
        for _ in range(self.READS):
            runner.run("read", lambda: self._read(spark, tracer))
        self.expired_rows += runner.run("expire", lambda: self.events.expire(spark, b))

    def warmup(self, spark, runner, tracer) -> None:
        self.events.open(f"{self.work}/state/events")
        self.docs.open(f"{self.work}/state/docs")
        # the event and document halves of a warm-up wave touch separate
        # states, so they fold side by side; a timed wave folds them in turn
        for b in range(self.WARM_WAVES):
            concurrently(spark, [lambda: self.events.fold(spark, b), lambda: self.docs.fold(spark, b)], WARM_THREADS)
            concurrently(spark, [lambda: self._read(spark, tracer)] * self.READS, WARM_THREADS)
            runner.run("expire", lambda: self.events.expire(spark, b), record=False)
        self.next_wave = self.WARM_WAVES

    def timed(self, spark, runner, tracer, deadline: float) -> None:
        while time.perf_counter() < deadline and self.next_wave < self.n_waves:
            self._round(spark, runner, tracer)

    def check(self, spark, runner) -> None:
        if not self.expired_rows:
            self.problems.append("events: no timed expiry dropped a window")
        self.problems += self.events.check(spark, runner, self.next_wave)
        self.problems += self.docs.check(spark, runner, self.next_wave)

    def e2e(self, records) -> dict[str, float]:
        by_kind: dict[str, list[float]] = {}
        for r in records:
            by_kind.setdefault(r.kind, []).append(r.seconds)
        return {
            "pass_s": sum(median(by_kind[k]) for k in self.KINDS),
            "write_s": median(by_kind["wave"]),
        }

    def layers(self, tracer, records) -> dict[str, float]:
        ledgers = self.docs.ledgers()
        spans = {
            "window_topn.ingest_s": ("window_topn.ingest", "wave"),
            "txn_state.merge_keep_latest_s": ("txn_state.merge_keep_latest", "wave"),
            "window_topn.expire_s": ("window_topn.expire", "expire"),
            "window_topn.topn_s": ("read.topn", "read"),
            "txn_state.read_s": ("read.latest_join", "read"),
            "minhash_index.ingest_s": ("minhash_index.ingest", "wave"),
            "minhash_index.pairs_for_batch_s": ("minhash_index.pairs_for_batch", "wave"),
            "cc_index.ingest_s": ("cc_index.ingest", "wave"),
            "append_delta.append_s": ("append_delta.append", "wave"),
            "minhash_index.pairs_s": ("read.pairs", "read"),
            "cc_index.mapping_s": ("read.mapping", "read"),
        }
        out = {k: per_op(tracer, records, name, kind) for k, (name, kind) in spans.items()}
        out.update(
            {
                "txn_state.buckets_touched_per_wave": mean(w[0] for w in self.wave_stats),
                "txn_state.files_per_wave": mean(w[1] for w in self.wave_stats),
                "txn_state.mb_written_per_wave": mean(w[2] for w in self.wave_stats),
                "txn_state.live_files": float(self.events.live_files()),
                "append_delta.live_deltas": float(sum(d["live_deltas"] for d in ledgers)),
                "append_delta.files": float(sum(d["files"] for d in ledgers)),
                "append_delta.mb": sum(d["bytes"] for d in ledgers) / 1e6,
                "minhash_index.pairs_per_wave": mean(self.pairs_per_wave),
                "state.mb": dir_bytes(f"{self.work}/state") / 1e6,
            }
        )
        return out


WORKLOADS = {w.name: w for w in (TableQueries, StreamWaves)}
