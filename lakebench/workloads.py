"""The three workloads, each driving the engine through its public
``Catalog``/``Table`` API and checking every read against an oracle kept
in numpy/pandas on the driver.

Every workload runs the same five operations (``commit``, ``scan``,
``pruned_scan``, ``lookup``, ``compact``), so an end-to-end metric means
the same thing on each. Inputs come from ``numpy.random.default_rng(seed)``
only: the same seed gives the same tables, batches and probe keys.
Each upsert/append/curation batch is one generated parquet file, read
back by Spark as a single partition.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from harness import Op

# Snapshot retention: old snapshots expire at commit, so files that a
# compaction replaced are reclaimed and space_amp reaches a steady state
# instead of growing with the length of the run.
RETENTION = {
    "snapshot.num-retained.min": "3",
    "snapshot.num-retained.max": "4",
    "snapshot.time-retained": "1 ms",
}

EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01


def _vocab(rng, n: int) -> pa.Array:
    lens = rng.integers(3, 10, n)
    letters = rng.integers(97, 123, int(lens.sum()), dtype=np.uint8).tobytes().decode()
    out, pos = [], 0
    for ln in lens:
        out.append(letters[pos:pos + ln])
        pos += ln
    return pa.array(out)


def _write_parquet(path: str, table: pa.Table) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _live_files(table) -> tuple[int, int]:
    """(live data files, their bytes) of the latest snapshot."""
    snap = table.snapshots.latest()
    if snap is None:
        return 0, 0
    entries = table.manifests.read_live_entries(
        snap.base_manifest_list, snap.delta_manifest_list
    )
    return len(entries), sum(e.file_size for e in entries)


class Workload:
    name = ""
    # reads per cycle; a workload whose reads are cheap runs more of them
    # so that each run's medians rest on more samples
    scans_per_cycle = 1
    pruned_per_cycle = 3
    lookups_per_cycle = 6
    nominal_period_s = 5.0  # settled period time on a 4-core host

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def _reads(self) -> list[Op]:
        return ([self._scan() for _ in range(self.scans_per_cycle)]
                + [self._pruned() for _ in range(self.pruned_per_cycle)])

    def _start(self, rep: int, stream: int) -> str:
        """Fresh directory and generator for one copy of the starting state."""
        self.rng = np.random.default_rng([self.seed, stream])
        self.work_rep = os.path.join(self.work, f"rep{rep}")
        shutil.rmtree(self.work_rep, ignore_errors=True)
        self.batch_no = 0
        return self.work_rep

    def _batch_file(self, table: pa.Table) -> str:
        path = os.path.join(self.work_rep, "batches", f"b{self.batch_no:05d}.parquet")
        self.batch_no += 1
        return _write_parquet(path, table)

    def tables(self) -> list:
        raise NotImplementedError

    def live_rows(self) -> int:
        raise NotImplementedError

    def working_set(self) -> dict:
        """Rows the oracle holds, and live data files and bytes of every table."""
        files = nbytes = 0
        for t in self.tables():
            f, b = _live_files(t)
            files, nbytes = files + f, nbytes + b
        return {"rows": self.live_rows(), "live_files": files, "bytes": nbytes}


# --- lsm_upsert --------------------------------------------------------------


class LsmUpsert(Workload):
    """Primary-key lineitem table (l_orderkey, l_linenumber), 8 buckets,
    ``commit.force-compact``. Each cycle upserts one batch that mixes
    updates to a skewed hot-key set with new orders; each period ends
    with ``compact(full=True)``."""

    name = "lsm_upsert"
    nominal_period_s = 12.0
    n_orders = 150_000  # about 4 lines each: ~600k rows, sf0.1 lineitem size
    batch_rows = 40_000
    update_share = 0.7
    hot_keys = 100_000

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        rng = np.random.default_rng(seed)
        self.vocab = _vocab(rng, 4096)
        self.words = self.vocab.to_pylist()
        self.word_len = np.array([len(w) for w in self.words], dtype=np.int64)
        self.rng = rng

    def _gen_orders(self, first_key: int, n_orders: int) -> pd.DataFrame:
        rng = self.rng
        lines = rng.integers(1, 8, n_orders)
        okey = np.repeat(np.arange(first_key, first_key + n_orders, dtype=np.int64), lines)
        lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int64)
        return self._values(okey * 8 + lnum)

    def _values(self, codes: np.ndarray) -> pd.DataFrame:
        rng, n = self.rng, len(codes)
        return pd.DataFrame(
            {
                "partkey": rng.integers(1, 20_000, n),
                "suppkey": rng.integers(1, 1_000, n),
                "qty": rng.integers(1, 51, n),
                "price": rng.integers(90_000, 10_500_000, n),
                "disc": rng.integers(0, 11, n),
                "tax": rng.integers(0, 9, n),
                "ship": rng.integers(EPOCH_1992, EPOCH_1992 + 2500, n),
                "c1": rng.integers(0, len(self.vocab), n),
                "c2": rng.integers(0, len(self.vocab), n),
                "c3": rng.integers(0, len(self.vocab), n),
            },
            index=pd.Index(codes, name="code"),
        )

    def _arrow(self, df: pd.DataFrame) -> pa.Table:
        codes = df.index.to_numpy()
        comment = pc.binary_join_element_wise(
            pc.take(self.vocab, pa.array(df["c1"].to_numpy())),
            pc.take(self.vocab, pa.array(df["c2"].to_numpy())),
            pc.take(self.vocab, pa.array(df["c3"].to_numpy())),
            " ",
        )
        return pa.table(
            {
                "l_orderkey": pa.array(codes // 8, pa.int64()),
                "l_linenumber": pa.array((codes % 8).astype(np.int32), pa.int32()),
                "l_partkey": pa.array(df["partkey"].to_numpy(), pa.int64()),
                "l_suppkey": pa.array(df["suppkey"].to_numpy(), pa.int64()),
                "l_quantity": pa.array(df["qty"].to_numpy(), pa.int64()),
                "l_extendedprice": pa.array(df["price"].to_numpy(), pa.int64()),
                "l_discount": pa.array(df["disc"].to_numpy().astype(np.int32), pa.int32()),
                "l_tax": pa.array(df["tax"].to_numpy().astype(np.int32), pa.int32()),
                "l_shipdate": pa.array(df["ship"].to_numpy().astype(np.int32), pa.int32()).cast(pa.date32()),
                "l_comment": comment,
            }
        )

    def build(self, rep: int) -> None:
        from flink_table_store_spark import Catalog

        root = self._start(rep, 1)
        self.cat = Catalog(os.path.join(root, "wh"))
        base = self._gen_orders(1, self.n_orders)
        path = _write_parquet(os.path.join(root, "base.parquet"), self._arrow(base))
        df = self.spark.read.parquet(path)
        self.table = self.cat.create_table(
            "db.lineitem_pk",
            df.schema,
            primary_keys=["l_orderkey", "l_linenumber"],
            options={"bucket": "8", "commit.force-compact": "true", **RETENTION},
        )
        self.table.write(df)
        self.oracle = base
        self.next_order = self.n_orders + 1
        codes = base.index.to_numpy()
        self.hot = self.rng.choice(codes, self.hot_keys, replace=False)
        w = 1.0 / np.arange(1, self.hot_keys + 1) ** 0.8
        self.hot_p = w / w.sum()
        self.last_updates = self.hot[:8]

    def tables(self):
        return [self.table]

    def _batch(self) -> pd.DataFrame:
        n_upd = int(self.batch_rows * self.update_share)
        upd = self.rng.choice(self.hot, n_upd, replace=False, p=self.hot_p)
        new = self._gen_orders(self.next_order, (self.batch_rows - n_upd) // 4)
        self.next_order += (self.batch_rows - n_upd) // 4
        self.last_updates = upd
        return pd.concat([self._values(upd), new])

    def _commit(self) -> Op:
        batch = self._batch()
        path = self._batch_file(self._arrow(batch))
        t, spark = self.table, self.spark

        def run():
            return t.write(spark.read.parquet(path))

        def check(_):
            o = self.oracle
            self.oracle = pd.concat([o[~o.index.isin(batch.index)], batch])
            return True

        return Op("commit", run, check, rows=len(batch))

    def _full_aggs(self, df):
        return df.agg(
            F.count(F.lit(1)),
            F.sum("l_quantity"),
            F.sum("l_extendedprice"),
            F.sum(F.col("l_discount") + F.col("l_tax")),
            F.sum("l_partkey"),
            F.sum("l_suppkey"),
            F.max("l_shipdate"),
            F.sum(F.length("l_comment")),
        ).collect()[0]

    def _expect_full(self, o: pd.DataFrame) -> tuple:
        import datetime

        clen = self.word_len[o["c1"]] + self.word_len[o["c2"]] + self.word_len[o["c3"]] + 2
        return (
            len(o),
            int(o["qty"].sum()),
            int(o["price"].sum()),
            int((o["disc"] + o["tax"]).sum()),
            int(o["partkey"].sum()),
            int(o["suppkey"].sum()),
            datetime.date(1970, 1, 1) + datetime.timedelta(days=int(o["ship"].max())),
            int(clen.sum()),
        )

    def _scan(self) -> Op:
        t, spark = self.table, self.spark
        return Op(
            "scan",
            lambda: self._full_aggs(t.to_df(spark)),
            lambda r: tuple(r) == self._expect_full(self.oracle),
        )

    def _pruned(self) -> Op:
        from flink_table_store_spark import predicate as P

        t, spark = self.table, self.spark
        width = max(1, self.next_order // 20)
        lo = int(self.rng.integers(1, max(2, self.next_order - width)))
        hi = lo + width

        def run():
            return t.to_df(spark, predicate=P.between("l_orderkey", lo, hi)).agg(
                F.count(F.lit(1)), F.sum("l_quantity"), F.sum("l_extendedprice")
            ).collect()[0]

        def check(r):
            o = self.oracle
            okey = o.index.to_numpy() // 8
            sel = o[(okey >= lo) & (okey <= hi)]
            return tuple(r) == (len(sel), int(sel["qty"].sum()) if len(sel) else None,
                                int(sel["price"].sum()) if len(sel) else None)

        return Op("pruned_scan", run, check)

    def _lookup(self, code: int) -> Op:
        from flink_table_store_spark import predicate as P

        t, spark = self.table, self.spark
        pred = P.and_(P.equal("l_orderkey", code // 8), P.equal("l_linenumber", code % 8))

        def run():
            return t.to_df(spark, predicate=pred).select(
                "l_quantity", "l_extendedprice", "l_comment"
            ).collect()

        def check(rows):
            if code not in self.oracle.index:
                return rows == []
            r = self.oracle.loc[code]
            w = self.words
            want = (int(r["qty"]), int(r["price"]), f"{w[r['c1']]} {w[r['c2']]} {w[r['c3']]}")
            return len(rows) == 1 and tuple(rows[0]) == want

        return Op("lookup", run, check)

    def cycle_ops(self, period: int) -> list[Op]:
        commit = self._commit()
        ops = [commit] + self._reads()
        # half the probes hit keys this batch just updated, half any live key
        codes = self.oracle.index.to_numpy()
        probes = list(self.rng.choice(self.last_updates, self.lookups_per_cycle // 2, replace=False))
        probes += list(self.rng.choice(codes, self.lookups_per_cycle - len(probes), replace=False))
        return ops + [self._lookup(int(c)) for c in probes]

    def compact_op(self, period: int) -> Op:
        t, spark = self.table, self.spark
        return Op("compact", lambda: t.compact(spark, full=True), lambda _: True)

    def live_rows(self) -> int:
        return len(self.oracle)

    def plant_wrong(self) -> None:
        """Write one update the oracle does not know about."""
        code = int(self.oracle.index[0])
        bad = self._values(np.array([code]))
        bad["qty"] = int(self.oracle.loc[code, "qty"]) + 1000
        self.table.write(self.spark.createDataFrame(self._arrow(bad).to_pandas()))


# --- append_scan -------------------------------------------------------------


class AppendScan(Workload):
    """Append lineitem table partitioned by month with a bloom file index
    on l_partkey; several hundred small live files. Each cycle appends one
    small file to the current month; each period ends by compacting that
    month's partition."""

    name = "append_scan"
    months = 24
    setup_commits = 2
    setup_files_per_commit = 5  # one Spark partition each, times 24 months
    setup_rows = 320_000
    append_rows = 4_000
    partkeys = 200_000

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)

    def _gen(self, n: int, first_okey: int, month: int | None) -> dict:
        rng = self.rng
        m = rng.integers(0, self.months, n) if month is None else np.full(n, month)
        day = rng.integers(0, 28, n)
        ship = EPOCH_1992 + (m * 30.4).astype(np.int64) + day
        return {
            "okey": np.arange(first_okey, first_okey + n, dtype=np.int64),
            "partkey": rng.integers(0, self.partkeys, n),
            "qty": rng.integers(1, 51, n),
            "price": rng.integers(90_000, 10_500_000, n),
            "disc": rng.integers(0, 11, n),
            "flag": rng.integers(0, 3, n),
            "status": rng.integers(0, 2, n),
            "month": m,
            "ship": ship,
        }

    @staticmethod
    def _arrow(d: dict) -> pa.Table:
        months = pa.array([f"{1992 + i // 12}-{i % 12 + 1:02d}" for i in range(24)])
        return pa.table(
            {
                "l_orderkey": pa.array(d["okey"], pa.int64()),
                "l_partkey": pa.array(d["partkey"], pa.int64()),
                "l_quantity": pa.array(d["qty"], pa.int64()),
                "l_extendedprice": pa.array(d["price"], pa.int64()),
                "l_discount": pa.array(d["disc"].astype(np.int32), pa.int32()),
                "l_returnflag": pc.take(pa.array(["A", "N", "R"]), pa.array(d["flag"])),
                "l_linestatus": pc.take(pa.array(["F", "O"]), pa.array(d["status"])),
                "l_shipdate": pa.array(d["ship"].astype(np.int32), pa.int32()).cast(pa.date32()),
                "l_month": pc.take(months, pa.array(d["month"])),
            }
        )

    def build(self, rep: int) -> None:
        from flink_table_store_spark import Catalog

        root = self._start(rep, 2)
        self.cat = Catalog(os.path.join(root, "wh"))
        self.cols: dict[str, list[np.ndarray]] = {}
        self.next_okey = 1
        self.table = None
        per_commit = self.setup_rows // self.setup_commits
        for c in range(self.setup_commits):
            d = self._gen(per_commit, self.next_okey, None)
            self.next_okey += per_commit
            step = per_commit // self.setup_files_per_commit
            paths = []
            for f in range(self.setup_files_per_commit):
                part = {k: v[f * step:(f + 1) * step] for k, v in d.items()}
                paths.append(_write_parquet(os.path.join(root, "base", f"c{c}-{f}.parquet"), self._arrow(part)))
            df = self.spark.read.parquet(*paths)
            if self.table is None:
                self.table = self.cat.create_table(
                    "db.lineitem_app",
                    df.schema,
                    partition_keys=["l_month"],
                    options={"file-index.bloom-filter.columns": "l_partkey", **RETENTION},
                )
            self.table.write(df)
            self._remember(d)

    def _remember(self, d: dict) -> None:
        for k, v in d.items():
            self.cols.setdefault(k, []).append(v)
        self._cat = None

    def _col(self, k: str) -> np.ndarray:
        if self._cat is None:
            self._cat = {c: np.concatenate(v) for c, v in self.cols.items()}
        return self._cat[k]

    def tables(self):
        return [self.table]

    def _month(self, period: int) -> int:
        return period % self.months

    def _month_name(self, m: int) -> str:
        return f"{1992 + m // 12}-{m % 12 + 1:02d}"

    def _commit(self, period: int) -> Op:
        d = self._gen(self.append_rows, self.next_okey, self._month(period))
        self.next_okey += self.append_rows
        path = self._batch_file(self._arrow(d))
        t, spark = self.table, self.spark

        def check(_):
            self._remember(d)
            return True

        return Op("commit", lambda: t.write(spark.read.parquet(path)), check, rows=self.append_rows)

    CUTOFF = EPOCH_1992 + 700  # Q1's shipdate <= cutoff, keeping most rows

    def _scan(self) -> Op:
        import datetime

        t, spark = self.table, self.spark
        cutoff = datetime.date(1970, 1, 1) + datetime.timedelta(days=self.CUTOFF)

        def run():
            return (
                t.to_df(spark)
                .where(F.col("l_shipdate") <= F.lit(cutoff))
                .groupBy("l_returnflag", "l_linestatus")
                .agg(
                    F.sum("l_quantity"),
                    F.sum("l_extendedprice"),
                    F.sum(F.col("l_extendedprice") * (100 - F.col("l_discount"))),
                    F.count(F.lit(1)),
                )
                .collect()
            )

        def check(rows):
            sel = self._col("ship") <= self.CUTOFF
            g = self._col("flag")[sel] * 2 + self._col("status")[sel]
            qty, price, disc = self._col("qty")[sel], self._col("price")[sel], self._col("disc")[sel]
            want = set()
            for key in np.unique(g):
                m = g == key
                want.add(("ANR"[key // 2], "FO"[key % 2], int(qty[m].sum()), int(price[m].sum()),
                          int((price[m] * (100 - disc[m])).sum()), int(m.sum())))
            return {tuple(r) for r in rows} == want

        return Op("scan", run, check)

    def _pruned(self) -> Op:
        from flink_table_store_spark import predicate as P

        t, spark = self.table, self.spark
        m = int(self.rng.integers(0, self.months))
        width = self.next_okey // 4
        lo = int(self.rng.integers(1, self.next_okey - width))
        hi = lo + width
        pred = P.and_(P.equal("l_month", self._month_name(m)), P.between("l_orderkey", lo, hi))

        def run():
            return t.to_df(spark, predicate=pred).agg(
                F.count(F.lit(1)), F.sum("l_quantity"), F.sum("l_extendedprice")
            ).collect()[0]

        def check(r):
            okey = self._col("okey")
            sel = (self._col("month") == m) & (okey >= lo) & (okey <= hi)
            n = int(sel.sum())
            return tuple(r) == (n, int(self._col("qty")[sel].sum()) if n else None,
                                int(self._col("price")[sel].sum()) if n else None)

        return Op("pruned_scan", run, check)

    def _lookup(self, partkey: int) -> Op:
        from flink_table_store_spark import predicate as P

        t, spark = self.table, self.spark

        def run():
            return t.to_df(spark, predicate=P.equal("l_partkey", partkey)).agg(
                F.count(F.lit(1)), F.sum("l_quantity")
            ).collect()[0]

        def check(r):
            sel = self._col("partkey") == partkey
            n = int(sel.sum())
            return tuple(r) == (n, int(self._col("qty")[sel].sum()) if n else None)

        return Op("lookup", run, check)

    def cycle_ops(self, period: int) -> list[Op]:
        ops = [self._commit(period)] + self._reads()
        # present keys (a few files hold them) and absent ones (bloom skips all)
        live = self._col("partkey")
        keys = [int(live[self.rng.integers(0, len(live))]) for _ in range(self.lookups_per_cycle - 1)]
        keys.append(self.partkeys + int(self.rng.integers(0, 1000)))
        return ops + [self._lookup(k) for k in keys]

    def compact_op(self, period: int) -> Op:
        from flink_table_store_spark import predicate as P

        t, spark = self.table, self.spark
        pf = P.equal("l_month", self._month_name(self._month(period)))
        return Op("compact", lambda: t.compact(spark, full=True, partition_filter=pf), lambda _: True)

    def live_rows(self) -> int:
        return len(self._col("okey"))

    def plant_wrong(self) -> None:
        d = self._gen(1, self.next_okey, 0)
        d["ship"][:] = EPOCH_1992
        self.next_okey += 1
        self.table.write(self.spark.createDataFrame(self._arrow(d).to_pandas()))


# --- curate_stream -----------------------------------------------------------


class CurateStream(Workload):
    """Generated documents with planted exact duplicates, near duplicates
    and short docs, fed in micro-batches through
    ``streaming.curation.curation_batch_writer`` with an exact index and a
    MinHash index. Each period ends by compacting the MinHash index."""

    name = "curate_stream"
    scans_per_cycle = 3
    pruned_per_cycle = 5
    nominal_period_s = 6.5
    base_docs = 1_000
    batch_docs = 500
    min_tokens = 5
    # planted shares of each batch
    exact_cross = 0.08
    exact_within = 0.04
    near_dup = 0.08
    short = 0.04

    def build(self, rep: int) -> None:
        from flink_table_store_spark import Catalog
        from flink_table_store_spark.datapipe.incdedup import create_exact_index, create_minhash_index
        from flink_table_store_spark.streaming.curation import curation_batch_writer

        root = self._start(rep, 3)
        self.words = _vocab(self.rng, 20_000).to_pylist()
        cat = Catalog(os.path.join(root, "wh"))
        self.corpus = cat.create_table("db.corpus", "doc_id bigint, text string, n_tokens int")
        self.exact = create_exact_index(cat, "db.doc_fp")
        self.minhash = create_minhash_index(cat, "db.doc_mh")
        for t in self.tables():
            t.evolve_schema([{"action": "set_option", "key": k, "value": v} for k, v in RETENTION.items()])
        self.writer = curation_batch_writer(
            self.corpus, self.exact, "lakebench", min_tokens=self.min_tokens, minhash_index=self.minhash
        )
        self.next_id = 1
        self.kept: dict[int, str] = {}  # oracle: surviving doc_id -> text
        self.dropped: list[int] = []
        self.texts: set[str] = set()
        docs, kept = self._docs(self.base_docs, plant=False)
        self._feed(docs)()
        self._accept(kept)

    def tables(self):
        return [self.corpus, self.exact, self.minhash]

    def _fresh(self) -> str:
        n = int(self.rng.integers(40, 81))
        return " ".join(self.words[i] for i in self.rng.integers(0, len(self.words), n))

    def _docs(self, n: int, plant: bool) -> tuple[list[tuple[int, str]], dict[int, str]]:
        """A batch of (doc_id, text) plus the oracle's survivors of it."""
        rng = self.rng
        kinds = np.array(["fresh"] * n, dtype=object)
        if plant:
            shares = [("exact_cross", self.exact_cross), ("exact_within", self.exact_within),
                      ("near", self.near_dup), ("short", self.short)]
            pos = rng.permutation(n)
            at = 0
            for kind, share in shares:
                k = int(n * share)
                kinds[pos[at:at + k]] = kind
                at += k
        kept_ids = list(self.kept)
        docs: list[tuple[int, str]] = []
        kept: dict[int, str] = {}
        batch_fresh: list[str] = []
        for kind in kinds:
            did = self.next_id
            self.next_id += 1
            if kind == "exact_cross":
                text = self.kept[kept_ids[int(rng.integers(0, len(kept_ids)))]]
            elif kind == "exact_within" and batch_fresh:
                text = batch_fresh[int(rng.integers(0, len(batch_fresh)))]
            elif kind == "near":
                src = self.kept[kept_ids[int(rng.integers(0, len(kept_ids)))]].split(" ")
                src[int(rng.integers(0, len(src)))] = "zz" + self.words[int(rng.integers(0, len(self.words)))]
                text = " ".join(src)
            elif kind == "short":
                text = " ".join(self.words[i] for i in rng.integers(0, len(self.words), self.min_tokens - 2))
            else:
                text = self._fresh()
                if text in self.texts:  # vanishingly rare; keep the oracle exact
                    text += " " + self.words[0]
                self.texts.add(text)
                batch_fresh.append(text)
                kept[did] = text
            docs.append((did, text))
        return docs, kept

    def _feed(self, docs):
        """Write the batch file now; return the call that curates it."""
        batch_id = self.batch_no
        path = self._batch_file(pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                                          "text": pa.array([t for _, t in docs])}))
        return lambda: self.writer(self.spark.read.parquet(path), batch_id)

    def _accept(self, kept: dict[int, str]) -> None:
        self.kept.update(kept)
        self._ids = None

    def _commit(self) -> Op:
        docs, kept = self._docs(self.batch_docs, plant=True)
        self.dropped = [d for d, _ in docs if d not in kept]

        def check(_):
            self._accept(kept)
            return True

        extra = {"datapipe.docs_in": len(docs), "datapipe.docs_kept": len(kept)}
        return Op("commit", self._feed(docs), check, rows=len(docs), extra=lambda: extra)

    def _stats(self):
        if self._ids is None:
            ids = np.fromiter(self.kept.keys(), dtype=np.int64, count=len(self.kept))
            ntok = np.fromiter((t.count(" ") + 1 for t in self.kept.values()), dtype=np.int64, count=len(self.kept))
            nlen = np.fromiter((len(t) for t in self.kept.values()), dtype=np.int64, count=len(self.kept))
            self._ids = (ids, ntok, nlen)
        return self._ids

    def _scan(self) -> Op:
        t, spark = self.corpus, self.spark

        def run():
            return t.to_df(spark).agg(
                F.count(F.lit(1)), F.sum("doc_id"), F.sum("n_tokens"), F.sum(F.length("text"))
            ).collect()[0]

        def check(r):
            ids, ntok, nlen = self._stats()
            return tuple(r) == (len(ids), int(ids.sum()), int(ntok.sum()), int(nlen.sum()))

        return Op("scan", run, check)

    def _pruned(self) -> Op:
        from flink_table_store_spark import predicate as P

        t, spark = self.corpus, self.spark
        width = max(1, self.next_id // 10)
        lo = int(self.rng.integers(1, self.next_id - width))
        hi = lo + width

        def run():
            return t.to_df(spark, predicate=P.between("doc_id", lo, hi)).agg(
                F.count(F.lit(1)), F.sum("n_tokens")
            ).collect()[0]

        def check(r):
            ids, ntok, _ = self._stats()
            sel = (ids >= lo) & (ids <= hi)
            n = int(sel.sum())
            return tuple(r) == (n, int(ntok[sel].sum()) if n else None)

        return Op("pruned_scan", run, check)

    def _lookup(self, doc_id: int) -> Op:
        from flink_table_store_spark import predicate as P

        t, spark = self.corpus, self.spark

        def run():
            return t.to_df(spark, predicate=P.equal("doc_id", doc_id)).select("text").collect()

        def check(rows):
            want = self.kept.get(doc_id)
            return [r[0] for r in rows] == ([] if want is None else [want])

        return Op("lookup", run, check)

    def cycle_ops(self, period: int) -> list[Op]:
        ops = [self._commit()] + self._reads()
        ids = list(self.kept)
        probes = [ids[int(self.rng.integers(0, len(ids)))] for _ in range(self.lookups_per_cycle - 1)]
        probes.append(self.dropped[int(self.rng.integers(0, len(self.dropped)))])
        return ops + [self._lookup(int(d)) for d in probes]

    def compact_op(self, period: int) -> Op:
        t, spark = self.minhash, self.spark
        return Op("compact", lambda: t.compact(spark, full=True), lambda _: True)

    def live_rows(self) -> int:
        return len(self.kept)

    def plant_wrong(self) -> None:
        did = self.next_id
        self.next_id += 1
        self.corpus.write(self.spark.createDataFrame([(did, "planted doc", 2)], self.corpus.to_df(self.spark).schema))


WORKLOADS = {w.name: w for w in (LsmUpsert, AppendScan, CurateStream)}
