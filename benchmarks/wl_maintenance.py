"""`maintenance` workload: a seeded stream of writes and reads over one
Z-ordered, version-logged `orders` dataset.

Each step appends a new batch (io.zorder_append), upserts a batch of
existing and new keys (io.upsert_dataset), deletes live keys
(io.delete_rows), then reads the snapshot (io.read_with_deletes), a
point lookup (indexes.read_keys), a range (stats.read_where) and an
earlier version (versioning.read_version). Every second step ends with
maintenance.maintain_dataset. A DuckDB model applies the same ops with
the API's semantics; every read is hash-compared with the model as it
stood at the version read.
"""

from __future__ import annotations

import io as _io
import os
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import harness
from harness import Op

COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"]
SIZES = {
    # rows published, append batch, upsert batch, delete batch, lookup keys
    "full": dict(rows=20_000, append=500, upsert=500, delete=50, lookup=40,
                 n_cust=3_000),
    "tiny": dict(rows=2_000, append=100, upsert=100, delete=20, lookup=10, n_cust=300),
}
# a cycle is MAINTAIN_EVERY steps, the last one closed by maintain_dataset;
# a run measures at least CYCLES cycles, so its op mix does not depend on
# how fast the machine is, and the medians set aside the first, cold cycle
MAINTAIN_EVERY = 2
CYCLES = 3
# the timed API calls, each a per-layer `<name>.wall_s`
STORAGE_OPS = ("io.zorder_append", "io.upsert_dataset", "io.delete_rows",
               "io.read_with_deletes", "indexes.read_keys", "stats.read_where",
               "versioning.read_version", "maintenance.maintain_dataset")


def duck_hash(con, rel: str) -> tuple[int, str]:
    """(rows, md5 of the row-sorted, column-sorted rendering) of a
    relation with the orders columns; floats rounded to 6 dp."""
    parts = []
    for c in sorted(COLS):
        if c == "o_totalprice":
            parts.append(f"coalesce(CAST(round({c}, 6) AS VARCHAR), 'None')")
        elif c == "o_orderdate":
            parts.append(f"coalesce(strftime(CAST({c} AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'), 'None')")
        else:
            parts.append(f"coalesce(CAST({c} AS VARCHAR), 'None')")
    row = " || '|' || ".join(parts)
    n, h = con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, '\n' ORDER BY r), '')) "
        f"FROM (SELECT {row} AS r FROM {rel})").fetchone()
    return int(n), h


def plain_bytes(tbl: pa.Table) -> int:
    buf = _io.BytesIO()
    pq.write_table(tbl, buf)
    return buf.tell()


class Maintenance:
    name = "maintenance"

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.cfg = SIZES[size]
        self.datasets: list[dict] = []

    # -- set-up ----------------------------------------------------------
    def setup(self, rep: int) -> None:
        """Generate the orders rows, publish them Z-ordered, and enable
        the version log, file stats and bloom index. Every repetition
        leaves an identical fresh dataset; the measured phases use the
        last ones."""
        from engage_spark import indexes, io, stats, versioning

        spark, cfg = self.spark, self.cfg
        rng = np.random.default_rng(self.seed)
        base = datagen.orders(rng, cfg["rows"], cfg["n_cust"])
        root = os.path.join(self.work, f"rep{rep}")
        os.makedirs(root, exist_ok=True)
        path = os.path.join(root, "orders")
        io.zorder_write(spark, spark.createDataFrame(base), path, ["o_orderkey", "o_custkey"])
        versioning.version_log_enable(spark, path)
        stats.stats_enable(spark, path, ["o_custkey", "o_orderkey"])
        indexes.bloom_enable(spark, path, ["o_orderkey"])

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.register("base_df", base)
        con.execute("CREATE TABLE m AS SELECT * FROM base_df")
        con.unregister("base_df")
        ds = {"path": path, "con": con, "rng": np.random.default_rng(self.seed + 1),
              "next_key": cfg["rows"], "versions": [], "step": 0}
        self._snapshot(ds)
        self.datasets.append(ds)

    # -- model helpers ---------------------------------------------------
    def _snapshot(self, ds) -> None:
        from engage_spark import versioning

        v = versioning.latest_version(self.spark, ds["path"])
        if v not in ds["versions"]:
            ds["con"].execute(f"CREATE OR REPLACE TABLE v{v} AS SELECT * FROM m")
            ds["versions"].append(v)

    def _live_keys(self, ds) -> np.ndarray:
        return ds["con"].execute("SELECT o_orderkey FROM m ORDER BY 1").fetchnumpy()["o_orderkey"]

    # -- the op stream -------------------------------------------------------
    def stream(self, ds, tracer, steps: int) -> tuple[list[Op], list[dict]]:
        ops, reads = [], []
        for _ in range(steps):
            self._step(ds, tracer, ops, reads)
        return ops, reads

    def _run(self, tracer, ops, name, kind, fn):
        """Time one API call (and its result collection)."""
        t0, ok, out, group = time.time(), True, None, None
        try:
            if tracer is None:
                out = fn()
            else:
                with tracer.op(name) as group:
                    out = fn()
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            ok, out = False, e
        op = Op(name, kind, t0, time.time(), ok, group)
        ops.append(op)
        return op, out

    def _write(self, ds, tracer, ops, name, fn, user_rows: pa.Table | None):
        before = harness.data_files(ds["path"])
        op, _ = self._run(tracer, ops, name, "write" if name != "maintenance.maintain_dataset"
                          else "maintain", fn)
        after = harness.data_files(ds["path"])
        added = {k: v for k, v in after.items() if k not in before}
        op.extra.update(bytes_written=sum(added.values()), files_added=len(added),
                        files_removed=len([k for k in before if k not in after]),
                        plain_bytes=plain_bytes(user_rows) if user_rows is not None else 0)
        return op

    def _read(self, ds, tracer, ops, reads, name, fn, model_sql: str, version: int | None):
        op, out = self._run(tracer, ops, name, "read", lambda: fn().toArrow())
        if not op.ok:
            reads.append({"op": name, "version": version, "ok": False,
                          "error": str(out).splitlines()[0][:300] if str(out) else repr(out)})
            return
        con = ds["con"]
        con.register("got_tbl", out)
        got = duck_hash(con, "got_tbl")
        con.unregister("got_tbl")
        want = duck_hash(con, f"({model_sql})")
        op.extra["rows_returned"] = got[0]
        reads.append({"op": name, "version": version, "ok": got == want,
                      "got": got, "want": want})
        op.ok = op.ok and got == want

    def _step(self, ds, tracer, ops, reads) -> None:
        from engage_spark import indexes, io, maintenance, stats, versioning

        spark, cfg, rng, con, path = self.spark, self.cfg, ds["rng"], ds["con"], ds["path"]
        ds["step"] += 1

        # append: a batch of brand-new keys
        app = datagen.orders(rng, cfg["append"], cfg["n_cust"], key0=ds["next_key"])
        ds["next_key"] += cfg["append"]
        app_t = pa.Table.from_pandas(app, preserve_index=False)
        app_df = spark.createDataFrame(app)
        op = self._write(ds, tracer, ops, "io.zorder_append",
                         lambda: io.zorder_append(spark, app_df, path), app_t)
        if op.ok:
            con.register("b", app_t)
            con.execute("INSERT INTO m SELECT * FROM b")
            con.unregister("b")
            self._snapshot(ds)

        # upsert: replace live rows with the batch's values, insert new keys
        live = self._live_keys(ds)
        n_new = cfg["upsert"] // 5
        upd_keys = rng.choice(live, cfg["upsert"] - n_new, replace=False)
        up = datagen.orders(rng, cfg["upsert"], cfg["n_cust"], key0=ds["next_key"])
        up.loc[: len(upd_keys) - 1, "o_orderkey"] = upd_keys
        ds["next_key"] += cfg["upsert"]
        up_t = pa.Table.from_pandas(up, preserve_index=False)
        up_df = spark.createDataFrame(up)
        op = self._write(ds, tracer, ops, "io.upsert_dataset",
                         lambda: io.upsert_dataset(spark, path, up_df, ["o_orderkey"]), up_t)
        if op.ok:
            con.register("b", up_t)
            con.execute("DELETE FROM m WHERE o_orderkey IN (SELECT o_orderkey FROM b)")
            con.execute("INSERT INTO m SELECT * FROM b")
            con.unregister("b")
            self._snapshot(ds)

        # delete: hide live keys
        live = self._live_keys(ds)
        dels = [int(k) for k in rng.choice(live, cfg["delete"], replace=False)]
        op = self._write(ds, tracer, ops, "io.delete_rows",
                         lambda: io.delete_rows(spark, path, dels, "o_orderkey"), None)
        if op.ok:
            con.execute(f"DELETE FROM m WHERE o_orderkey IN ({','.join(map(str, dels))})")
            self._snapshot(ds)

        # reads
        self._read(ds, tracer, ops, reads, "io.read_with_deletes",
                   lambda: io.read_with_deletes(spark, path), "SELECT * FROM m", None)
        live = self._live_keys(ds)
        keys = [int(k) for k in np.concatenate([
            rng.choice(live, cfg["lookup"] // 2, replace=False),
            np.array(dels[: cfg["lookup"] // 4]),
            ds["next_key"] + rng.integers(0, 1000, cfg["lookup"] // 4)])]
        self._read(ds, tracer, ops, reads, "indexes.read_keys",
                   lambda: indexes.read_keys(spark, path, "o_orderkey", keys),
                   f"SELECT * FROM m WHERE o_orderkey IN ({','.join(map(str, keys))})", None)
        lo = int(rng.integers(0, cfg["n_cust"]))
        hi = lo + cfg["n_cust"] // 50
        self._read(ds, tracer, ops, reads, "stats.read_where",
                   lambda: stats.read_where(spark, path, "o_custkey", lo, hi),
                   f"SELECT * FROM m WHERE o_custkey BETWEEN {lo} AND {hi}", None)
        older = ds["versions"][:-1] or ds["versions"]
        v = int(older[int(rng.integers(0, len(older)))])
        self._read(ds, tracer, ops, reads, "versioning.read_version",
                   lambda: versioning.read_version(spark, path, v), f"SELECT * FROM v{v}", v)

        if ds["step"] % MAINTAIN_EVERY == 0:
            op = self._write(ds, tracer, ops, "maintenance.maintain_dataset",
                             lambda: maintenance.maintain_dataset(spark, path), None)
            if op.ok:
                self._snapshot(ds)

    # -- measurement -------------------------------------------------------
    def measure(self, seconds: float, tracer, phase: int) -> dict:
        """CYCLES cycles, then more until `seconds` have passed; wall_s
        is the median over cycles of the summed op wall times, so the
        model and hashing work between ops is not part of it. The trace
        run's later phases (phase > 0) run one cycle each, to stay within
        a run's time limit."""
        ds = self.datasets[-1 - phase]
        ops, reads, cycles = [], [], []
        n_min = CYCLES if phase == 0 else 1
        t_end = time.perf_counter() + (seconds if phase == 0 else 0)
        while len(cycles) < n_min or time.perf_counter() < t_end:
            o, r = self.stream(ds, tracer, MAINTAIN_EVERY)
            cycles.append(sum(op.wall for op in o))
            ops += o
            reads += r
        return {"ops": ops, "reads": reads, "wall_s": harness.p50(cycles), "ds": ds}

    def check(self, res: dict) -> list[str]:
        bad = [f"{r['op']} v={r.get('version')}: {r.get('got')} != {r.get('want')} "
               f"{r.get('error', '')}" for r in res["reads"] if not r["ok"]]
        bad += [f"{o.name} raised" for o in res["ops"] if not o.ok and o.kind != "read"]
        return bad

    def failed_checks(self, res: dict) -> int:
        return 0  # a wrong read already marks its op failed

    def attempted_checks(self, res: dict) -> int:
        return 0

    def fingerprint(self, res: dict) -> list:
        return [r.get("got") for r in res["reads"]]

    def extra_metrics(self, res: dict) -> dict:
        ops, ds = res["ops"], res["ds"]
        reads = [o.wall for o in ops if o.kind == "read"]
        writes = [o.wall for o in ops if o.kind == "write"]
        written = sum(o.extra.get("bytes_written", 0) for o in ops)
        plain = sum(o.extra.get("plain_bytes", 0) for o in ops)
        live = ds["con"].execute("SELECT * FROM m").arrow()
        space = harness.dir_bytes(ds["path"])
        return {
            "ops.read_p50_s": (harness.p50(reads), "s"),
            "ops.write_p50_s": (harness.p50(writes), "s"),
            "fs.write_amp": (written / max(1, plain), "ratio"),
            "fs.space_amp": (space / plain_bytes(live), "ratio"),
        }

    def layers(self, res: dict) -> dict:
        ops = res["ops"]
        out = {}
        for name in STORAGE_OPS:
            w = [o.wall for o in ops if o.name == name]
            out[f"{name}.wall_s"] = (harness.p50(w) if w else 0.0, "s")
        writes = [o for o in ops if o.kind in ("write", "maintain")]
        n = max(1, len(writes))
        out["fs.bytes_written"] = (sum(o.extra["bytes_written"] for o in writes) / n, "B/op")
        out["fs.files_added"] = (sum(o.extra["files_added"] for o in writes) / n, "count/op")
        out["fs.files_removed"] = (sum(o.extra["files_removed"] for o in writes) / n, "count/op")
        rd = [o for o in ops if o.kind == "read"]
        out["scan.rows_returned"] = (
            sum(o.extra.get("rows_returned", 0) for o in rd) / max(1, len(rd)), "count/op")
        return out
