"""The four benchmark workloads.

Each workload is driven by one closed-loop client: the next operation is
issued only after the previous one returned.  A *round* is a fixed script
of operations whose parameters come from ``ctx.rng(round)``; every round
starts from fresh tables, so rounds are comparable and a run repeats
whole rounds until its time is up.  Each operation is checked against a
model computed outside the engine; a mismatch counts as a failed op.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen

# The olap_read rotation, with the fixture tables each query scans (used
# for the rows-scanned throughput; t21 reads lineitem three times).
OLAP_QUERIES = {
    "q06_tpch_q1": ["lineitem"],
    "t05_local_supplier_volume": [
        "region", "nation", "customer", "orders", "lineitem", "supplier",
    ],
    "t18_large_volume_customer": ["lineitem", "orders", "customer"],
    "t21_waiting_supplier": ["lineitem", "orders", "lineitem", "lineitem", "supplier"],
    "q11_join_broadcast": ["customer", "nation"],
    "q20_window_rank": ["orders"],
    "q22_window_frame": ["orders"],
    "q25_union_distinct": ["customer", "supplier"],
}

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p75(xs):
    """The tail percentile every timing reports (see README.md)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def dir_files(root: str) -> dict[str, int]:
    """relpath -> size of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except FileNotFoundError:
                pass  # a commit's tmp file vanished between listing and stat
    return out


class Workload:
    name = ""
    groups: list[str] = []
    # nominal length of a measured round on a 4-CPU host; a run measures
    # round(seconds / round_s) rounds, at least one
    round_s = 20.0
    # run one round on a tiny copy of the inputs during set-up, so the
    # measured round runs on a warm JVM (see run.warm_up)
    warmup = True

    def stage(self, ctx) -> None:
        """Workload-specific input staging, timed as part of set-up."""

    def prepare(self, ctx) -> None:
        """Untimed preparation (oracles) before the warm-up round."""

    def round(self, ctx, r: int) -> int:
        """Run one round; return the rows it processed."""
        raise NotImplementedError

    def samples(self, ctx, ops: list[dict]) -> list[float]:
        """End-to-end latency samples (s) of the measured ops."""
        return [o["s"] for o in ops]

    def detail(self, ctx, ops: list[dict]) -> dict:
        """Workload-specific end-to-end figures for the report line."""
        return {}

    def layers(self, ctx, ops: list[dict], trace) -> dict:
        """Per-layer figures from the traced rounds."""
        return {}


# -- olap_read --------------------------------------------------------------


class OlapRead(Workload):
    """Seeded rotation over eight registry queries, each checked against
    its DuckDB oracle twin through tools/oracle_check's canonical hash."""

    name = "olap_read"
    groups = ["tpch"]
    # measured cold: each query's first run in the process; its spread is
    # within the bounds without the cost of a warm-up
    warmup = False

    def prepare(self, ctx) -> None:
        from cubefs_hadoop_spark.queries import ORACLE
        from tools.oracle_check import canon_hash

        con = duckdb.connect()
        for t in TPCH_TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{ctx.sf_dir}/{t}.parquet')"
            )
        self.oracle = {n: canon_hash(con.sql(ORACLE[n]).df()) for n in OLAP_QUERIES}
        con.close()

    def _query(self, ctx, name: str):
        from cubefs_hadoop_spark.queries import QUERIES

        t0 = time.time()
        df = QUERIES[name](ctx.spark, ctx.sf_dir)
        ctx.span("queries.build", t0, time.time())
        t1 = time.time()
        pdf = df.toPandas()
        ctx.span("queries.collect", t1, time.time())
        return pdf

    def _check(self, name: str):
        from tools.oracle_check import canon_hash

        def check(pdf):
            if canon_hash(pdf) != self.oracle[name]:
                return f"{name}: result differs from its DuckDB oracle"
            return None

        return check

    def round(self, ctx, r: int) -> int:
        rows = 0
        for name in ctx.rng(r).permutation(list(OLAP_QUERIES)):
            ctx.rec.op("query", lambda n=name: self._query(ctx, n),
                       check=self._check(name), tag=name)
            rows += sum(ctx.dataset.rows[t] for t in OLAP_QUERIES[name])
        return rows

    def detail(self, ctx, ops):
        s = [o["s"] for o in ops]
        return {"query_p50_s": median(s), "query_tail_s": p75(s)}

    def layers(self, ctx, ops, trace):
        out = {
            "queries.build_s": median(trace.span_total(ops, "queries.build")),
            "queries.collect_s": median(trace.span_total(ops, "queries.collect")),
            "queries.eager_jobs": median(trace.span_jobs(ops, "queries.build")),
        }
        for name in OLAP_QUERIES:
            out[f"queries.{name}.median_s"] = median(
                [o["s"] for o in ops if o["tag"] == name]
            )
        return out


# -- table_rw ---------------------------------------------------------------

TABLE_COMMITS = 6           # appends per round
TABLE_KEEP = 6              # expire_table_versions(keep_last=...)
TABLE_STATS_COLS = ["l_orderkey", "l_shipdate"]


class TableModel:
    """The committed table as the benchmark expects it: row id, quantity
    and order key arrays per retained version."""

    def __init__(self):
        self.rowid = np.zeros(0, "int64")
        self.qty = np.zeros(0, "float64")
        self.okey = np.zeros(0, "int64")
        self.versions: dict[int, tuple] = {}

    def snap(self, v: int) -> None:
        self.versions[v] = (self.rowid, self.qty, self.okey)

    def append(self, t: pa.Table) -> None:
        self.rowid = np.concatenate([self.rowid, t["l_rowid"].to_numpy()])
        self.qty = np.concatenate([self.qty, t["l_quantity"].to_numpy()])
        self.okey = np.concatenate([self.okey, t["l_orderkey"].to_numpy()])

    def _keep(self, mask: np.ndarray) -> None:
        self.rowid, self.qty, self.okey = self.rowid[mask], self.qty[mask], self.okey[mask]

    def upsert(self, t: pa.Table) -> None:
        self._keep(~np.isin(self.rowid, t["l_rowid"].to_numpy()))
        self.append(t)

    def delete_mod(self, mod: int, k: int) -> None:
        self._keep(self.rowid % mod != k)

    def expect(self, v: int, lo: int | None = None, hi: int | None = None):
        rowid, qty, okey = self.versions[v]
        m = np.ones(len(rowid), bool)
        if lo is not None:
            m = (okey >= lo) & (okey < hi)
        return (int(m.sum()), int(rowid[m].sum()), float(qty[m].sum()))


def _agg(df):
    r = df.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("l_rowid"), F.lit(0)),
        F.coalesce(F.sum("l_quantity"), F.lit(0.0)),
    ).first()
    return (int(r[0]), int(r[1]), float(r[2]))


class TableRW(Workload):
    """The storage contract under one client: appends, predicate and
    time-travel reads, a merge-on-read upsert, a delete, a branch publish
    and periodic GC on one versioned table per round, then the stream
    phase's micro-batch commits."""

    name = "table_rw"
    groups = ["events"]
    SINKS = ("sink_versioned", "sink_state")

    def __init__(self, sf: float):
        self.batch_rows = max(int(150_000 * sf), 100)
        self.key_span = max(self.batch_rows // 4, 25)
        self.stream = StreamPhase()

    def stage(self, ctx) -> None:
        self.stream.stage(ctx)

    def prepare(self, ctx) -> None:
        self.stream.prepare(ctx)

    def _batch(self, ctx, rng, i: int, rowid_lo: int) -> tuple[str, pa.Table]:
        t = datagen.lineitem_batch(
            rng, self.batch_rows, self.key_span, 20_000, 1_000,
            key_lo=i * self.key_span,
        )
        t = t.append_column(
            "l_rowid", pa.array(np.arange(rowid_lo, rowid_lo + t.num_rows, dtype="int64"))
        )
        path = os.path.join(ctx.work, "batches", f"b{i:03d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path)
        return path, t

    def _track(self, ctx) -> None:
        """Record every file that appeared under the table (write_amp)."""
        for rel, size in dir_files(self.path).items():
            self.created.setdefault(rel, size)

    def _version(self) -> int:
        from cubefs_hadoop_spark import versioning

        return versioning.current_version(self.path)

    def _read_check(self, model: TableModel, v: int, lo=None, hi=None):
        want = model.expect(v, lo, hi)

        def check(got):
            if got != want:
                return f"read of version {v} [{lo},{hi}) gave {got}, model {want}"
            return None
        return check

    def round(self, ctx, r: int) -> int:
        from cubefs_hadoop_spark.engine import Engine

        rng = ctx.rng(r)
        eng = Engine(ctx.spark, os.path.join(ctx.work, f"wh_rw{r}"))
        ctx.instrument_engine(eng)
        name = "li"
        self.path = os.path.join(eng.warehouse_root, "default", name)
        self.created: dict[str, int] = {}
        self.user_bytes = 0
        model = TableModel()
        rows = 0
        rec = ctx.rec
        spark = ctx.spark

        def commit(path, branch=None):
            return eng.write_table_version(
                spark.read.parquet(path), name, mode="append",
                stats_cols=TABLE_STATS_COLS, branch=branch,
            )

        for i in range(TABLE_COMMITS):
            path, t = self._batch(ctx, rng, i, i * self.batch_rows)
            want_v = (self._version() if i else 0) + 1
            rec.op("commit", lambda: commit(path),
                   check=lambda v, w=want_v: None if v == w else f"append committed v{v}, not v{w}")
            model.append(t)
            model.snap(self._version())
            self.user_bytes += t.nbytes
            rows += t.num_rows
            self._track(ctx)

            v = self._version()
            lo = int(rng.integers(0, (i + 1) * self.key_span))
            hi = lo + int(self.key_span * rng.uniform(0.5, 2.0))
            rec.op("read", lambda v=v, lo=lo, hi=hi: self._pred_read(ctx, eng, name, v, lo, hi),
                   check=self._read_check(model, v, lo, hi))
            if ctx.trace:
                from cubefs_hadoop_spark import versioning

                rec.note(files_total=len(versioning.read_manifest(self.path, v)["files"]))

            if i % 3 == 2:
                older = [x for x in model.versions if x < v]
                tv = int(rng.choice(older))
                rec.op("travel", lambda tv=tv: _agg(eng.read_version(name, tv)),
                       check=self._read_check(model, tv))

            if i == TABLE_COMMITS // 3:
                up = self._upsert_rows(ctx, rng, model, t)
                rec.op("merge", lambda: eng.merge_table(
                    spark.read.parquet(up[0]), name, on="l_rowid", strategy="mor"))
                model.upsert(up[1])
                model.snap(self._version())
                self.user_bytes += up[1].nbytes
                self._track(ctx)
            if i == TABLE_COMMITS // 2:
                k = int(rng.integers(0, 50))
                rec.op("delete", lambda: eng.delete_from(name, f"l_rowid % 50 = {k}"))
                model.delete_mod(50, k)
                model.snap(self._version())
                self._track(ctx)
            if i == 2 * TABLE_COMMITS // 3:
                bpath, bt = self._batch(ctx, rng, TABLE_COMMITS + i, 10**9)
                want_v = self._version() + 1
                rec.op("branch", lambda: (
                    eng.create_table_branch(name, "audit"),
                    commit(bpath, branch="audit"),
                    eng.publish_branch(name, "audit"),
                )[-1], check=lambda v, w=want_v: None if v == w else f"publish gave v{v}, not v{w}")
                model.append(bt)
                model.snap(self._version())
                self.user_bytes += bt.nbytes
                rows += bt.num_rows
                self._track(ctx)
            if i % 4 == 3:
                self._gc(ctx, eng, name, model, TABLE_KEEP)
        self._gc(ctx, eng, name, model, 1)
        self._measure_space(ctx, model)
        return rows + self.stream.round(ctx, r)

    def _pred_read(self, ctx, eng, name, v, lo, hi):
        t0 = time.time()
        df = eng.read_version(
            name, v, predicates=[("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)]
        )
        ctx.span("table_source.plan", t0, time.time())
        if ctx.trace:
            ctx.rec.note(files_read=len(df.inputFiles()))
        return _agg(df)

    def _upsert_rows(self, ctx, rng, model, t):
        """500 existing rows with a changed quantity plus 500 new ones."""
        live = model.rowid[model.rowid < 10**9]
        pick = np.sort(rng.choice(live, min(500, len(live)), replace=False))
        staged = [pq.read_table(os.path.join(ctx.work, "batches", f"b{j:03d}.parquet"))
                  for j in sorted({int(x) // self.batch_rows for x in pick})]
        old = pa.concat_tables(staged)
        old = old.filter(pa.array(np.isin(old["l_rowid"].to_numpy(), pick)))
        old = old.set_column(
            old.schema.get_field_index("l_quantity"), "l_quantity",
            pa.array(old["l_quantity"].to_numpy() + 1.0),
        )
        new = t.slice(0, 500).set_column(
            t.schema.get_field_index("l_rowid"), "l_rowid",
            pa.array(np.arange(2 * 10**9, 2 * 10**9 + min(500, t.num_rows), dtype="int64")),
        )
        up = pa.concat_tables([old, new])
        upath = os.path.join(ctx.work, "batches", "upsert.parquet")
        pq.write_table(up, upath)
        return upath, up

    def _gc(self, ctx, eng, name, model, keep):
        before = sum(dir_files(self.path).values())
        ctx.rec.op("gc", lambda: eng.expire_table_versions(name, keep_last=keep))
        after = sum(dir_files(self.path).values())
        ctx.rec.note(gc_bytes_deleted=before - after)
        from cubefs_hadoop_spark import versioning

        live = set(versioning.list_versions(self.path))
        ctx.rec.note(manifests_live=len(live))
        for v in list(model.versions):
            if v not in live:
                del model.versions[v]

    def _measure_space(self, ctx, model):
        from cubefs_hadoop_spark import versioning

        v = self._version()
        m = versioning.read_manifest(self.path, v)
        refs = set(m["files"])
        for d in m.get("deletes", []):
            refs.update(d.get("eq_files", []))
        files = dir_files(self.path)
        live_bytes = sum(files.get(f, 0) for f in refs)
        ctx.rec.round_facts.update(
            write_amp=sum(self.created.values()) / self.user_bytes,
            space_amp=sum(files.values()) / live_bytes,
        )
        missing = [f for f in refs if f not in files]
        if missing:
            ctx.rec.fail(f"live version {v} references missing files {missing[:3]}")

    def samples(self, ctx, ops):
        """Table operations plus the stream phase's micro-batches."""
        return [o["s"] for o in ops if o["kind"] not in self.SINKS] + self.stream.samples(
            ctx, ops)

    def detail(self, ctx, ops):
        c = [o["s"] for o in ops if o["kind"] == "commit"]
        q = [o["s"] for o in ops if o["kind"] in ("read", "travel")]
        return {
            "commit_p50_s": median(c), "commit_tail_s": p75(c),
            "query_p50_s": median(q), "query_tail_s": p75(q),
            "write_amp": median(ctx.round_facts("write_amp")),
            "space_amp": median(ctx.round_facts("space_amp")),
            **self.stream.detail(ctx, ops),
        }

    def layers(self, ctx, ops, trace):
        reads = [o for o in ops if o["kind"] == "read"]
        growth = []
        for r in {o["round"] for o in ops}:
            c = [o["s"] for o in ops if o["round"] == r and o["kind"] == "commit"]
            q = max(len(c) // 4, 1)
            growth.append(median(c[-q:]) / median(c[:q]))
        gcs = [o for o in ops if o["kind"] == "gc"]
        return {
            "versioning.commit_growth": median(growth),
            "versioning.gc_s": median([o["s"] for o in gcs]),
            "versioning.gc_bytes_deleted": median([o["gc_bytes_deleted"] for o in gcs]),
            "versioning.manifests_live": median([o["manifests_live"] for o in gcs]),
            "versioning.write_amp": median(ctx.round_facts("write_amp")),
            "versioning.space_amp": median(ctx.round_facts("space_amp")),
            "table_source.plan_s": median(trace.span_total(reads, "table_source.plan")),
            "table_source.files_read": median([o["files_read"] for o in reads]),
            "table_source.files_read_frac": median(
                [o["files_read"] / o["files_total"] for o in reads]
            ),
            **self.stream.layers(ctx, ops, trace),
        }


# -- table_rw stream phase --------------------------------------------------

STREAM_FILES = 4


class StreamPhase:
    """Replay staged event files one per micro-batch into an exactly-once
    versioned table and through one additive state-sink fold (the closing
    phase of every table_rw round)."""

    def stage(self, ctx) -> None:
        """The layout ``streaming.ops.stage_replay`` produces (equal-width
        event-time buckets, one parquet file each, ``ts`` as int64 nanos,
        arrival order = event-time order), written with pyarrow so that
        set-up does not pay for a cold Spark job."""
        self.stage_dir = os.path.join(ctx.work, "replay")
        data = os.path.join(self.stage_dir, "data")
        os.makedirs(data)
        ev = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"))
        ts = ev["ts"].cast(pa.int64()).to_numpy()
        ev = ev.set_column(1, "ts", pa.array(ts * 1000))
        lo, hi = int(ts.min()), int(ts.max())
        bucket = np.minimum((ts - lo) * STREAM_FILES // (hi - lo + 1), STREAM_FILES - 1)
        now = time.time()
        for b in range(STREAM_FILES):
            path = os.path.join(data, f"part-{b:05d}.parquet")
            pq.write_table(ev.filter(pa.array(bucket == b)), path)
            os.utime(path, (now - STREAM_FILES + b, now - STREAM_FILES + b))

    def prepare(self, ctx) -> None:
        ev = pq.read_table(os.path.join(ctx.sf_dir, "events.parquet"))
        self.n_events = ev.num_rows
        self.id_sum = int(np.sum(ev["event_id"].to_numpy()))
        cents = np.round(ev["value"].to_numpy() * 100).astype("int64")
        types = ev["event_type"].to_numpy(zero_copy_only=False)
        keys, counts = np.unique(
            np.rec.fromarrays([types.astype(str), cents]), return_counts=True
        )
        self.expected_state = sorted(
            (str(k[0]), int(k[1]), int(c)) for k, c in zip(keys, counts)
        )

    def _drain(self, ctx, fn):
        n0 = len(ctx.listener.progress)
        fn()
        got = ctx.listener.wait_for(n0 + STREAM_FILES)[n0:]
        batches = [p for p in got if p["rows"] > 0]
        ctx.rec.note(batches=batches)
        return batches

    def round(self, ctx, r: int) -> int:
        from cubefs_hadoop_spark import versioning
        from cubefs_hadoop_spark.engine import Engine
        from cubefs_hadoop_spark.streaming.ops import read_stream, sink_versioned
        from cubefs_hadoop_spark.streaming.state_sink import (
            read_state, sink_value_counts_state,
        )

        base = os.path.join(ctx.work, f"stream{r}")
        eng = Engine(ctx.spark, os.path.join(base, "wh"))
        ctx.instrument_engine(eng)
        path = os.path.join(base, "wh", "default", "ev")

        def check_table(batches):
            vs = versioning.list_versions(path)
            got = _agg_events(eng.read_version("ev"))
            want = (self.n_events, self.id_sum)
            wm = versioning.last_committed_batch(path)
            if got != want or len(vs) != STREAM_FILES or wm != STREAM_FILES - 1:
                return (f"versioned sink: rows/idsum {got} want {want}, "
                        f"{len(vs)} versions, watermark {wm}")
            if len(batches) != STREAM_FILES:
                return f"versioned sink: {len(batches)} progress events"
            return None

        ctx.rec.op("sink_versioned", lambda: self._drain(ctx, lambda: sink_versioned(
            read_stream(ctx.spark, self.stage_dir), eng, "ev",
            os.path.join(base, "ck_v"), stats_cols=["event_id", "user_id"])),
            check=check_table)

        state_dir = os.path.join(base, "state")

        def check_state(batches):
            got = sorted(
                (r.event_type, int(r.c), int(r.cnt))
                for r in read_state(ctx.spark, state_dir).collect()
            )
            if got != self.expected_state:
                return "state sink: folded counts differ from the batch statistic"
            return None

        ctx.rec.op("sink_state", lambda: self._drain(ctx, lambda: sink_value_counts_state(
            read_stream(ctx.spark, self.stage_dir), state_dir,
            os.path.join(base, "ck_s"))), check=check_state)
        if ctx.trace:
            gen = max(int(d.split("=")[1]) for d in os.listdir(state_dir) if d.startswith("gen="))
            ctx.rec.note(state_bytes=sum(dir_files(os.path.join(state_dir, f"gen={gen}")).values()))
        ctx.rec.round_facts["stream_write_amp"] = (
            sum(dir_files(path).values()) / ctx.dataset.arrow_bytes["events"]
        )
        return 2 * self.n_events

    def samples(self, ctx, ops):
        return [b["ms"]["triggerExecution"] / 1000.0 for o in ops for b in o.get("batches", [])]

    def detail(self, ctx, ops):
        s = self.samples(ctx, ops)
        return {
            "microbatch_p50_s": median(s), "microbatch_tail_s": p75(s),
            "stream_write_amp": median(ctx.round_facts("stream_write_amp")),
        }

    def layers(self, ctx, ops, trace):
        b = [x for o in ops for x in o.get("batches", [])]
        st = [x for o in ops if o["kind"] == "sink_state" for x in o.get("batches", [])]

        def ms(key, bs=b):
            return median([x["ms"].get(key, 0) / 1000.0 for x in bs])

        return {
            "streaming.add_batch_s": ms("addBatch"),
            "streaming.wal_commit_s": ms("walCommit"),
            "streaming.query_planning_s": ms("queryPlanning"),
            "streaming.overhead_s": median(
                [(x["ms"]["triggerExecution"] - x["ms"].get("addBatch", 0)) / 1000.0 for x in b]
            ),
            "streaming.batches": median(
                [len(o.get("batches", [])) for o in ops if o["kind"] == "sink_versioned"]
            ),
            "state_sink.fold_s": ms("addBatch", st),
            "state_sink.state_bytes": median(
                [o["state_bytes"] for o in ops if "state_bytes" in o]
            ),
        }


def _agg_events(df):
    r = df.agg(F.count(F.lit(1)), F.coalesce(F.sum("event_id"), F.lit(0))).first()
    return (int(r[0]), int(r[1]))


# -- curation_pipeline ------------------------------------------------------

JACCARD_TAU = 0.5
# distinct character 8-shingles of ``text``, the unit
# exact_shingle_jaccard_pairs scores
SHINGLES_SQL = (
    "array_distinct(transform(sequence(1, greatest(length(text) - 7, 1)),"
    " i -> substring(text, i, 8)))"
)


def shingles(text: str, k: int = 8) -> set[str]:
    """Distinct character k-shingles, the reference the verify step's
    exact Jaccard is checked against."""
    return {text[i:i + k] for i in range(max(len(text) - k + 1, 1))}


class CurationPipeline(Workload):
    """The composed curation shape: quality gate, exact dedup, MinHash
    LSH candidates, exact verify, component election, Arrow tokenizer,
    IVF-PQ rerank and one versioned write, each step materialized."""

    name = "curation_pipeline"
    groups = ["documents", "embeddings"]
    round_s = 30.0
    # a curation pipeline runs once per process, as a batch job does: its
    # JIT and Python-worker start-up are part of what users wait for
    warmup = False

    def prepare(self, ctx) -> None:
        docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"))
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        emb = pq.read_table(os.path.join(ctx.sf_dir, "embeddings.parquet"))
        self.vectors = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype("float64")

    def round(self, ctx, r: int) -> int:
        from cubefs_hadoop_spark.catalog import load
        from cubefs_hadoop_spark.engine import Engine
        from cubefs_hadoop_spark.extensions import dedup as dd
        from cubefs_hadoop_spark.extensions.components import dedup_keep_list
        from cubefs_hadoop_spark.extensions.similarity import ivfpq_topk
        from cubefs_hadoop_spark.extensions.text import hash_split, langid_scores
        from cubefs_hadoop_spark.extensions.tokenize import subword_tokenize_arrow

        spark, rec = ctx.spark, ctx.rec
        eng = Engine(spark, os.path.join(ctx.work, f"wh_cur{r}"))
        ctx.instrument_engine(eng)
        cached = []

        def mat(df):
            df = df.cache()
            cached.append(df)
            df.count()
            return df

        docs = load(spark, ctx.sf_dir, "documents")
        gated = rec.op("gate", lambda: mat(
            langid_scores(docs).withColumn("words", F.size(F.split("text", " ")))
            .filter(F.col("words") >= 5)))
        exact = rec.op("exact_dedup", lambda: mat(dd.exact_dedup_by_hash(gated)))
        sig = rec.op("signature", lambda: mat(dd.minhash_signature(exact)))

        def candidates():
            bands = dd.lsh_bands(sig)
            a, b = bands.alias("a"), bands.alias("b")
            pairs = a.join(
                b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            ).select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")).distinct()
            return mat(pairs)

        cand = rec.op("candidates", candidates)
        n_cand = cand.count() if cand is not None else 0

        def verify():
            sh = exact.select("doc_id", F.expr(SHINGLES_SQL).alias("s"))
            scored = (
                cand.join(sh.select(F.col("doc_id").alias("da"), F.col("s").alias("sa")), "da")
                .join(sh.select(F.col("doc_id").alias("db"), F.col("s").alias("sb")), "db")
                .select("da", "db",
                        F.size(F.array_intersect("sa", "sb")).cast("long").alias("i"),
                        F.size("sa").cast("long").alias("na"),
                        F.size("sb").cast("long").alias("nb"))
            )
            pairs = dd.exact_shingle_jaccard_pairs(exact, JACCARD_TAU, scored=scored)
            return mat(pairs)

        verified = rec.op("verify", verify, check=self._check_pairs)
        pairs = [(x.da, x.db) for x in verified.collect()] if verified is not None else []
        rec.note(candidate_pairs=n_cand, verified_pairs=len(pairs))

        kept = rec.op("components", lambda: mat(dedup_keep_list(exact, verified)),
                      check=lambda k: self._check_components(ctx, exact, pairs, k))
        rec.op("tokenize", lambda: subword_tokenize_arrow(kept).agg(
            F.sum("n_subwords")).first()[0])
        emb = load(spark, ctx.sf_dir, "embeddings")
        rec.op("topk", lambda: ivfpq_topk(spark, emb, rerank=True).collect(),
               check=lambda rows: self._check_topk(rows, rec))
        final = hash_split(kept, "text", train_pct=80).select(
            "doc_id", "text", "lang_pred", "words", "split")
        n_kept = kept.count() if kept is not None else -1
        rec.op("write", lambda: eng.write_table_version(final, "corpus"),
               check=lambda v: None if eng.read_version("corpus").count() == n_kept
               else "versioned write: row count differs from the kept set")
        for df in cached:
            df.unpersist()
        return len(self.texts) + len(self.vectors)

    def _check_pairs(self, verified):
        for x in verified.collect():
            a, b = shingles(self.texts[x.da]), shingles(self.texts[x.db])
            if len(a & b) / len(a | b) < JACCARD_TAU:
                return f"verified pair ({x.da}, {x.db}) is below the Jaccard threshold"
        return None

    def _check_components(self, ctx, exact, pairs, kept):
        """Components of the verified pairs, by union-find over the
        collected pairs, must each keep exactly one document."""
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        comps: dict[int, set] = {}
        for d in list(parent):
            comps.setdefault(find(d), set()).add(d)
        kept_ids = {x.doc_id for x in kept.select("doc_id").collect()}
        exact_ids = {x.doc_id for x in exact.select("doc_id").collect()}
        members = set(parent)
        for m in comps.values():
            if len(m & kept_ids) != 1:
                return f"component {sorted(m)[:4]} keeps {len(m & kept_ids)} docs"
        for a, b in ctx.dataset.planted_pairs:
            if a in exact_ids and b in exact_ids and a in kept_ids and b in kept_ids:
                return f"planted near-copy pair ({a}, {b}) was not found"
        if kept_ids - exact_ids or exact_ids - kept_ids - members:
            return "kept set is not the exact-dedup set minus component members"
        return None

    def _check_topk(self, rows, rec):
        """Distances must be the exact L2 of the stored vectors; notes the
        share of the brute-force top-k the rerank returned (recall@k)."""
        import inspect

        from cubefs_hadoop_spark.extensions.similarity import ivfpq_topk

        params = inspect.signature(ivfpq_topk).parameters
        n_q, k = params["n_queries"].default, params["k"].default
        if len(rows) != n_q * k:
            return f"topk returned {len(rows)} rows, expected {n_q * k}"
        hits = 0
        for q in range(n_q):
            d2 = np.sum((self.vectors - self.vectors[q]) ** 2, axis=1)
            d2[q] = np.inf
            exact = set(np.argsort(d2, kind="stable")[:k].tolist())
            got = [x for x in rows if x.q_id == q]
            hits += len(exact & {x.n_id for x in got})
            for x in got:
                if abs(d2[x.n_id] * 1e6 - x.d2_micro) > 2:
                    return f"topk distance for ({q}, {x.n_id}) is not the exact L2"
        rec.note(recall=hits / (n_q * k))
        return None

    def layers(self, ctx, ops, trace):
        def step(kind):
            return median([o["s"] for o in ops if o["kind"] == kind])

        verify = [o for o in ops if o["kind"] == "verify" and "candidate_pairs" in o]
        comps = [o for o in ops if o["kind"] == "components"]
        return {
            "dedup.signature_s": step("signature"),
            "dedup.candidates_s": step("candidates"),
            "dedup.candidate_pairs": median([o["candidate_pairs"] for o in verify]),
            "dedup.verified_pairs": median([o["verified_pairs"] for o in verify]),
            "dedup.verify_yield": median(
                [o["verified_pairs"] / max(o["candidate_pairs"], 1) for o in verify]
            ),
            "components.cc_s": step("components"),
            "components.jobs": median([trace.op_jobs(o) for o in comps]),
            "similarity.topk_s": step("topk"),
            "similarity.recall_at_k": median(
                [o["recall"] for o in ops if o["kind"] == "topk" and "recall" in o]),
            "tokenize.arrow_s": step("tokenize"),
        }


def make(name: str, sf: float) -> Workload:
    return {
        "olap_read": OlapRead,
        "table_rw": lambda: TableRW(sf),
        "curation_pipeline": CurationPipeline,
    }[name]()
