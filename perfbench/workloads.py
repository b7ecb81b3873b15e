"""The workloads (``annotate``, ``queries``): inputs, timed operations,
output checks and the numbers each one reports. The record-store updates
(``Incremental``) and the Thrift round trip (``ThriftInterop``) are
operation families that run inside ``annotate``.

A workload is driven as a closed loop by ``run.py``: one driver thread
issues one operation at a time and the next only after the previous
completed. Every operation calls the engine only through its public
functions (``session``, ``plans.provide``, ``plans.incremental``, ``io``
and the ``__spark_entry__`` query registry).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics

import gen

TRIO = ["POS", "NER"]  # closure: TOKEN -> POS, NER
STORE_TARGETS = ["POS", "NER"]

RELATIONAL = ["flagship_pricing_summary", "join_sortmerge", "join_asof", "agg_cube"]
CURATION = ["dedup_minhash", "dedup_containment", "text_tfidf"]
STREAMING = ["stream_window_agg"]


def canon(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=str)


def row_views(row) -> dict:
    """All view families of one Record row merged into one plain dict."""
    d = row.asDict(recursive=True)
    out: dict = {}
    for fam in ("label_views", "cluster_views", "parse_views"):
        out.update(d.get(fam) or {})
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def write_parquet(rows_or_table, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = rows_or_table if isinstance(rows_or_table, pa.Table) else pa.Table.from_pylist(rows_or_table)
    pq.write_table(table, path)


def median_of(ops: list[dict]) -> float:
    return statistics.median(o["sec"] for o in ops) if ops else 0.0


class Workload:
    """One benchmark workload. ``run`` is the ``run.Run`` context."""

    name = ""

    def __init__(self, seed: int):
        self.seed = seed

    def materialize(self, run) -> str:
        """Write this workload's inputs under ``run.work``; returns a
        description of what was generated."""
        raise NotImplementedError

    def warm(self, run) -> None:
        """First-touch work (JVM code paths, Python workers) before timing."""

    def pass_ops(self, run, pass_no: int) -> list[tuple]:
        """(kind, op_type, docs, fn) for one pass over the mix."""
        raise NotImplementedError

    def check(self, run) -> list[tuple[str, bool, str, set]]:
        """(name, ok, detail, op kinds it vouches for)."""
        return []

    def report(self, run) -> dict:
        """Workload-specific end-to-end numbers: name -> (value, unit)."""
        return {}

    def layers(self, run) -> dict:
        """Per-layer numbers this workload measures (traced runs)."""
        return {}

    def probe_rows(self) -> list[dict]:
        """Documents the driver-side layer probes run on."""
        raise NotImplementedError


def _docs_per_s(ops: list[dict]) -> float:
    sec = sum(o["sec"] for o in ops)
    return sum(o["docs"] for o in ops) / sec if sec else 0.0


# ---------------------------------------------------------------------------
class Annotate(Workload):
    """The corpus path: Thrift read, ``provide`` of the TOKEN->POS->NER
    trio and of the full 11-mode DAG (each written with ``write_corpus``),
    four record-store updates, Thrift export. One process pays the Spark
    and Python-worker warm-up once for all of them."""

    name = "annotate"
    N_DOCS = 300
    N_SAMPLE = 50

    def __init__(self, seed: int):
        super().__init__(seed)
        from curatorhadoopinterface_spark.plans.registry import MODES

        self.kinds = {"trio": TRIO, "full": list(MODES)}
        self.thrift = ThriftInterop(seed)
        self.updates = Incremental(seed)

    def materialize(self, run) -> str:
        parts = (self._materialize(run), self.updates.materialize(run), self.thrift.materialize(run))
        return "; ".join(parts)

    def _materialize(self, run) -> str:
        self.rows = gen.corpus(self.seed, self.N_DOCS)
        self.in_dir = os.path.join(run.work, "in")
        os.makedirs(self.in_dir, exist_ok=True)
        write_parquet(self.rows, os.path.join(self.in_dir, "corpus.parquet"))
        write_parquet(self.rows[:48], os.path.join(self.in_dir, "warm.parquet"))
        n_long = sum(1 for r in self.rows if r["raw_text"].count(". ") >= 4)
        return f"annotate corpus: {gen.describe(self.rows)} ({n_long} long)"

    def _op(self, run, kind: str, table: str):
        from curatorhadoopinterface_spark.io import write_corpus
        from curatorhadoopinterface_spark.plans.provide import provide
        from curatorhadoopinterface_spark.session import load_table

        out_path = os.path.join(run.work, "out", kind if table == "corpus" else f"warm_{kind}")

        def fn(ph):
            with ph("build", "provide"):
                df = load_table(run.spark, self.in_dir, table)
                out = provide(df, self.kinds[kind])
            ph.plan(out)
            with ph("exec", "provide"):
                write_corpus(out, out_path)

        return fn

    def warm(self, run) -> None:
        for kind in self.kinds:
            self._op(run, kind, "warm")(run.no_phases)
        self.thrift.warm(run)
        self.updates.warm(run)

    def pass_ops(self, run, pass_no: int) -> list[tuple]:
        n = len(self.rows)
        read, write = self.thrift.pass_ops(run, pass_no)
        annotate = [(k, "annotate", n, self._op(run, k, "corpus")) for k in self.kinds]
        return [read, *annotate, *self.updates.pass_ops(run, pass_no), write]

    def check(self, run) -> list[tuple[str, bool, str, set]]:
        import pyspark.sql.functions as F

        from curatorhadoopinterface_spark.annotators.light import annotate_record
        from curatorhadoopinterface_spark.plans.registry import MODES, dependency_closure

        want_ids = {r["identifier"] for r in self.rows}
        text = {r["identifier"]: r["raw_text"] for r in self.rows}
        sample = random.Random(f"sample:{self.seed}").sample(sorted(want_ids), self.N_SAMPLE)
        out = []
        for kind, targets in self.kinds.items():
            df = run.spark.read.parquet(os.path.join(run.work, "out", kind))
            views_needed = set()
            for m in targets:
                for d in dependency_closure(m):
                    views_needed.update({MODES[d].view, *MODES[d].extra_views})
            keys = df.select(
                "identifier",
                F.concat(
                    F.coalesce(F.map_keys("label_views"), F.array()),
                    F.coalesce(F.map_keys("cluster_views"), F.array()),
                    F.coalesce(F.map_keys("parse_views"), F.array()),
                ).alias("views"),
            ).collect()
            ids = [r["identifier"] for r in keys]
            ok_ids = len(ids) == len(want_ids) and set(ids) == want_ids
            missing = sum(1 for r in keys if not views_needed <= set(r["views"]))
            out.append((f"{kind}: ids and row count preserved", ok_ids, f"{len(ids)} rows", {kind}))
            out.append((f"{kind}: every requested view present", missing == 0, f"{missing} rows lack views", {kind}))
            rows = df.where(F.col("identifier").isin(sample)).collect()
            bad = sum(
                1
                for r in rows
                if canon(row_views(r)) != canon(annotate_record(text[r["identifier"]], {}, targets))
            )
            ok = len(rows) == len(sample) and bad == 0
            out.append((f"{kind}: 50-record sample equals annotate_record", ok, f"{bad} differ", {kind}))
        return out + self.updates.check(run) + self.thrift.check(run)

    def report(self, run) -> dict:
        ops = [o for o in run.timed_ops() if o["kind"] in self.kinds]
        rep = {"docs_per_s": (_docs_per_s(ops), "docs/s")}
        for kind in self.kinds:
            rep[f"{kind}_p50_s"] = (median_of([o for o in ops if o["kind"] == kind]), "s")
        return {**rep, **self.updates.report(run), **self.thrift.report(run)}

    def layers(self, run) -> dict:
        return self.updates.layers(run)

    def probe_rows(self) -> list[dict]:
        return self.rows


# ---------------------------------------------------------------------------
class Incremental(Workload):
    """Record-store updates: ``RecordStore.provide_incremental`` over
    batches with 0%, 50% and 100% stored documents (the stored half of
    the 50% batch carries stale ``pos`` views) and a forced batch. Runs
    inside the ``annotate`` workload as its ``update_*`` operations."""

    name = "incremental"
    STORE_DOCS = 160
    BATCH = 40
    HIT_SHARE = {"update_miss": 0.0, "update_half": 0.5, "update_hit": 1.0, "update_force": 1.0}

    def materialize(self, run) -> str:
        self.plan = gen.IncrementalPlan(self.seed, self.STORE_DOCS, self.BATCH)
        self.in_dir = os.path.join(run.work, "in")
        os.makedirs(self.in_dir, exist_ok=True)
        write_parquet(self.plan.stored, os.path.join(self.in_dir, "seed.parquet"))
        self.warm_rows = gen.corpus(self.seed, self.BATCH, salt="warm")
        write_parquet(self.warm_rows, os.path.join(self.in_dir, "warm.parquet"))
        shares = ", ".join(f"{k} {v:.1f}" for k, v in self.HIT_SHARE.items())
        return (
            f"incremental store: {gen.describe(self.plan.stored)} "
            f"({len(self.plan.stale)} with stale pos); batches of {self.BATCH}, hit shares: {shares}"
        )

    def warm(self, run) -> None:
        """Seed the store, with the ``pos`` views of the stale slice
        rewritten to the older ``-0.9`` source, then run one update of
        fresh documents so the first timed update is not the first merge."""
        import pyspark.sql.functions as F

        from curatorhadoopinterface_spark.plans.incremental import RecordStore
        from curatorhadoopinterface_spark.plans.provide import provide
        from curatorhadoopinterface_spark.session import load_table

        self.store_path = os.path.join(run.work, "store")
        self.store = RecordStore(run.spark, self.store_path)
        seeded = provide(load_table(run.spark, self.in_dir, "seed"), STORE_TARGETS)
        stale = F.col("identifier").isin(sorted(self.plan.stale_ids()))
        seeded = seeded.withColumn(
            "label_views",
            F.transform_values(
                "label_views",
                lambda k, v: F.when(stale & (k == "pos"), v.withField("source", F.lit("enginepos-0.9"))).otherwise(v),
            ),
        )
        self.store.write_full(seeded)
        self.store.provide_incremental(load_table(run.spark, self.in_dir, "warm"), STORE_TARGETS)
        self.stored_ids = {r["identifier"] for r in self.plan.stored + self.warm_rows}
        self.last_out: dict = {}

    def pass_ops(self, run, pass_no: int) -> list[tuple]:
        from curatorhadoopinterface_spark.session import load_table

        ops = []
        for kind, rows in self.plan.pass_batches(pass_no):
            table = f"p{pass_no}_{kind}"
            write_parquet(rows, os.path.join(self.in_dir, f"{table}.parquet"))

            def fn(ph, kind=f"update_{kind}", table=table, rows=rows):
                with ph("update", "incremental"):
                    df = load_table(run.spark, self.in_dir, table)
                    out = self.store.provide_incremental(df, STORE_TARGETS, force=kind == "update_force")
                self.last_out[kind] = (out, rows)
                self.stored_ids.update(r["identifier"] for r in rows)

            ops.append((f"update_{kind}", "update", len(rows), fn))
        return ops

    def check(self, run) -> list[tuple[str, bool, str, set]]:
        from curatorhadoopinterface_spark.annotators.light import annotate_record

        out = []
        for kind, (df, rows) in self.last_out.items():
            text = {r["identifier"]: r["raw_text"] for r in rows}
            got = df.collect()
            bad = sum(
                1 for r in got
                if canon(row_views(r)) != canon(annotate_record(text[r["identifier"]], {}, STORE_TARGETS))
            )
            ok = len(got) == len(rows) and {r["identifier"] for r in got} == set(text) and bad == 0
            why = {"update_half": "views (stale pos recomputed)", "update_force": "views (forced ones recomputed)"}.get(kind, "views")
            out.append((f"{kind}: returned records carry current {why}", ok, f"{bad}/{len(got)} differ", {kind}))
        store = self.store.load()
        n, n_ids = store.count(), store.select("identifier").distinct().count()
        want = len(self.stored_ids)
        ok = n == n_ids == want
        out.append(("store: one row per distinct identifier", ok, f"{n} rows, {n_ids} ids, {want} expected", set(self.HIT_SHARE)))
        self.store_rows = n
        return out

    def report(self, run) -> dict:
        ops = [o for o in run.timed_ops() if o["type"] == "update"]
        docs = sum(o["docs"] for o in ops)
        out_bytes = sum(o["stages"]["outputBytes"] for o in ops)
        return {
            "update_docs_per_s": (_docs_per_s(ops), "docs/s"),
            "update_p50_s": (median_of(ops), "s"),
            "hit_ratio": (self._hit_ratio(ops), "fraction"),
            "write_bytes_per_doc": (out_bytes / docs if docs else 0.0, "B/doc"),
            "store_bytes_per_doc": (dir_bytes(self.store_path) / max(1, getattr(self, "store_rows", 0)), "B/doc"),
        }

    def _hit_ratio(self, ops: list[dict]) -> float:
        ops = [o for o in ops if o["type"] == "update"]
        docs = sum(o["docs"] for o in ops)
        return sum(o["docs"] * self.HIT_SHARE[o["kind"]] for o in ops) / docs if docs else 0.0

    def layers(self, run) -> dict:
        """``hit_speedup``: a fresh ``provide`` of the 100%-hit batch (to a
        noop sink) over the median update of that batch."""
        import time

        from curatorhadoopinterface_spark.plans.provide import provide
        from curatorhadoopinterface_spark.session import load_table

        ops = run.timed_ops("traced")
        fresh = []
        for _ in range(3):
            t = time.perf_counter()
            df = provide(load_table(run.spark, self.in_dir, "p0_hit"), STORE_TARGETS)
            df.write.mode("overwrite").format("noop").save()
            fresh.append(time.perf_counter() - t)
        hit = median_of([o for o in ops if o["kind"] == "update_hit"])
        return {
            "incremental.hit_ratio": self._hit_ratio(ops),
            "incremental.hit_speedup": statistics.median(fresh) / hit if hit else 0.0,
        }

    def probe_rows(self) -> list[dict]:
        return self.plan.stored


# ---------------------------------------------------------------------------
class Queries(Workload):
    name = "queries"
    SF = 0.002
    NAMES = RELATIONAL + CURATION + STREAMING

    def op_type(self, name: str) -> str:
        return "relational" if name in RELATIONAL else "curation" if name in CURATION else "streaming"

    def materialize(self, run) -> str:
        self.sf_dir = os.path.join(run.work, "in", "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        tables = gen.star_tables(self.seed, self.SF)
        for name, table in tables.items():
            write_parquet(table, os.path.join(self.sf_dir, f"{name}.parquet"))
        sizes = ", ".join(f"{k} {v.num_rows}" for k, v in tables.items())
        return f"queries tables (sf {self.SF}): {sizes}; mix of {len(self.NAMES)} queries"

    def warm(self, run) -> None:
        import __spark_entry__ as entry

        self.registry = entry.queries()
        self.results = {}
        for name in self.NAMES:
            df = self.registry[name](run.spark, self.sf_dir)
            self.results[name] = (df.columns, [tuple(r) for r in df.collect()])

    def pass_ops(self, run, pass_no: int) -> list[tuple]:
        ops = []
        for name in gen.query_order(self.seed, self.NAMES, pass_no):
            layer = "streaming" if name in STREAMING else "operators"

            def fn(ph, name=name, layer=layer):
                with ph("build", layer):
                    df = self.registry[name](run.spark, self.sf_dir)
                ph.plan(df, layer)
                with ph("exec", layer):
                    df.write.mode("overwrite").format("noop").save()

            ops.append((name, self.op_type(name), 0, fn))
        return ops

    def check(self, run) -> list[tuple[str, bool, str, set]]:
        import duckdb

        import __spark_entry__ as entry
        from verify_local import canon as vcanon

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in os.listdir(self.sf_dir):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}')")
        out = []
        for name in self.NAMES:
            cols, rows = self.results[name]
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ok = sorted(cols) == sorted(dcols) and len(rows) == len(drows) and vcanon(rows, cols) == vcanon(drows, dcols)
            out.append((f"{name} matches its DuckDB oracle", ok, f"{len(rows)} rows vs {len(drows)}", {name}))
        con.close()
        return out

    def report(self, run) -> dict:
        from metrics import percentile

        ops = run.timed_ops()
        rep = {}
        for t in ("relational", "curation"):
            rep[f"{t}_p50_s"] = (median_of([o for o in ops if o["type"] == t]), "s")
        rep["query_p90_s"] = (percentile([o["sec"] for o in ops], 0.9), "s")
        rep["queries_run"] = (len(ops), "count")
        return rep

    def probe_rows(self) -> list[dict]:
        texts = gen.doc_texts(random.Random(f"documents:{self.seed}"), 500)
        return [{"identifier": gen.identifier(t), "raw_text": t, "whitespaced": False} for t in texts]


# ---------------------------------------------------------------------------
class ThriftInterop(Workload):
    """The reference-migration path: Thrift Record files (one per
    document) read to parquet, then exported back to Thrift files. Runs
    inside the ``annotate`` workload, as its ``thrift_read`` and
    ``thrift_write`` operations."""

    name = "thrift_interop"
    N_DOCS = 300
    N_SAMPLE = 50

    def materialize(self, run) -> str:
        self.recs = gen.thrift_corpus(self.seed, self.N_DOCS)
        self.thrift_dir = os.path.join(run.work, "in", "thrift")
        shutil.rmtree(self.thrift_dir, ignore_errors=True)
        os.makedirs(self.thrift_dir)
        warm_dir = os.path.join(run.work, "in", "thrift_warm")
        os.makedirs(warm_dir, exist_ok=True)
        for i, rec in enumerate(self.recs):
            blob = gen.thrift_blob(rec)
            for d in (self.thrift_dir, warm_dir) if i < 24 else (self.thrift_dir,):
                with open(os.path.join(d, f"{rec['identifier']}.txt"), "wb") as fh:
                    fh.write(blob)
        self.in_bytes = dir_bytes(self.thrift_dir)
        return f"thrift corpus: {gen.describe(self.recs)}, {self.in_bytes} bytes in {len(self.recs)} files"

    def _read(self, run, src: str, dst: str):
        from curatorhadoopinterface_spark.io import read_thrift_records, write_corpus

        def fn(ph):
            with ph("read", "io"):
                write_corpus(read_thrift_records(run.spark, src), dst)

        return fn

    def _write(self, run, src: str, dst: str):
        from curatorhadoopinterface_spark.io import write_thrift_records

        def fn(ph):
            shutil.rmtree(dst, ignore_errors=True)
            with ph("write", "io"):
                write_thrift_records(run.spark.read.parquet(src), dst)

        return fn

    def warm(self, run) -> None:
        w = os.path.join(run.work, "warm")
        self._read(run, os.path.join(run.work, "in", "thrift_warm"), f"{w}_pq")(run.no_phases)
        self._write(run, f"{w}_pq", f"{w}_thrift")(run.no_phases)

    def pass_ops(self, run, pass_no: int) -> list[tuple]:
        self.pq_dir = os.path.join(run.work, "out", "records_pq")
        self.out_dir = os.path.join(run.work, "out", "thrift")
        n = len(self.recs)
        return [
            ("thrift_read", "io", n, self._read(run, self.thrift_dir, self.pq_dir)),
            ("thrift_write", "io", n, self._write(run, self.pq_dir, self.out_dir)),
        ]

    def check(self, run) -> list[tuple[str, bool, str, set]]:
        import pyspark.sql.functions as F

        from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record, encode_thrift_record

        truth = {r["identifier"]: r for r in self.recs}
        sample = random.Random(f"sample:{self.seed}").sample(sorted(truth), self.N_SAMPLE)
        df = run.spark.read.parquet(self.pq_dir)
        n = df.count()
        rows = df.where(F.col("identifier").isin(sample)).collect()
        bad = sum(1 for r in rows if canon(r.asDict(recursive=True)) != canon(truth[r["identifier"]]))
        out = [
            ("read: row count matches file count", n == len(truth), f"{n} rows", {"thrift_read"}),
            ("read: sampled records equal the generated ones", len(rows) == len(sample) and bad == 0, f"{bad} differ", {"thrift_read"}),
        ]
        files = os.listdir(self.out_dir)
        bad_rt = 0
        for rid in sample:
            with open(os.path.join(self.out_dir, f"{rid}.txt"), "rb") as fh:
                rec = decode_thrift_record(fh.read())
            if canon(rec) != canon(truth[rid]) or canon(decode_thrift_record(encode_thrift_record(rec))) != canon(rec):
                bad_rt += 1
        out.append(("write: file count matches row count", len(files) == len(truth), f"{len(files)} files", {"thrift_write"}))
        out.append(("write: sample survives decode(encode(r))", bad_rt == 0, f"{bad_rt} differ", {"thrift_write"}))
        return out

    def report(self, run) -> dict:
        ops = [o for o in run.timed_ops() if o["kind"].startswith("thrift_")]
        return {
            "thrift_docs_per_s": (_docs_per_s(ops), "docs/s"),
            "thrift_bytes_per_doc": (self.in_bytes / len(self.recs), "B/doc"),
        }

    def probe_rows(self) -> list[dict]:
        return self.recs


WORKLOADS = {w.name: w for w in (Annotate, Queries)}

