"""A deterministic catalog of the 8 active tables and one day of
changes.

``Catalog(seed, n_subs, months)`` builds, from the ``registry``
schemas:

- ``initial``: the source state an initial load reads;
- ``day``: the next day's clock and full source snapshot (what the
  Scheduled flow's ``LocalFileSource`` rescans), with the day's updates
  and new subscriptions skewed toward the newest months.

Chain foreign keys stay consistent, and a child's ``created_at`` is at
or a little after its parent's, so a changed subscription's children
land in the same few partitions. Every chained row that changes gets
its anchor subscription's ``updated_at`` bumped the same day, which is
what makes it visible to the watermark semi-join chain.

``retail_orders.checkout_order_xml`` holds quoted multi-line values
with ``;`` and doubled quotes (the ``multiLine``/``escape='"'``
dialect), and the boolean columns use every spelling the boolean
normaliser maps.
"""

from __future__ import annotations

import csv
import hashlib
import io
import math
import os
import random
from datetime import datetime, timedelta

from data_ingestor_gluejob_script_spark.operators.normalize import BOOLEAN_CANON
from data_ingestor_gluejob_script_spark.pipeline import lake_table_root
from data_ingestor_gluejob_script_spark.registry import CATALOG, tables_list

TS = "%Y-%m-%d %H:%M:%S"
TABLES = tables_list("allTables")
D0 = datetime(2025, 1, 1)  # snapshot time of the initial drop
BOOL_SPELLINGS = sorted(BOOLEAN_CANON)
STATUSES = ("active", "pending", "suspended", "cancelled")


def _ts(d: datetime) -> str:
    return d.strftime(TS)


def _dt(s: str) -> datetime:
    return datetime.fromisoformat(s)  # the TS format, parsed in C


def lake_ts(s: str) -> str:
    """The writer's microsecond rendering of a source timestamp (the
    source has whole seconds)."""
    return s + ".000000"


def partition_dir(table: str, lake_row_: dict) -> str:
    """The ``company=…/{t}_year=…/{t}_month=…`` directory, relative to
    the table root, that a lake row's created-at puts it in."""
    ts = lake_row_[CATALOG[table].ts_col]
    return os.path.join(
        "company=Locaweb", f"{table}_year={int(ts[:4])}", f"{table}_month={int(ts[5:7])}"
    )


def lake_row(table: str, row: dict) -> dict:
    """A source row as the lake stores it: created-at re-rendered at
    microsecond precision, boolean spellings canonicalised."""
    spec = CATALOG[table]
    out = dict(row)
    out[spec.ts_col] = lake_ts(row[spec.ts_col])
    for c in spec.boolean_cols:
        out[c] = BOOLEAN_CANON.get(out[c], out[c])
    return out


def row_hash(table: str, row: dict) -> str:
    """Order-insensitive identity of one lake row over the schema's
    columns (missing values hash as the NUL marker)."""
    cols = CATALOG[table].columns
    h = hashlib.blake2b(digest_size=12)
    for c in cols:
        v = row.get(c)
        h.update(b"\x00" if v is None else v.encode())
        h.update(b"\x1f")
    return h.hexdigest()


def csv_bytes(table: str, rows) -> bytes:
    """Rows rendered exactly as the drops render them (header first)."""
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=CATALOG[table].csv_sep, lineterminator="\n")
    cols = CATALOG[table].columns
    w.writerow(cols)
    for r in rows:
        w.writerow([r[c] for c in cols])
    return buf.getvalue().encode()


def _copy(state: dict[str, dict[str, dict]]) -> dict[str, dict[str, dict]]:
    return {t: {i: dict(r) for i, r in rows.items()} for t, rows in state.items()}


def _xml(rng: random.Random, oid: int) -> str:
    note = rng.choice(("gift; wrap", "call first;\nleave at door", "none"))
    return (
        f'<order id="{oid}" channel="web">\n'
        f'  <item sku="SKU-{rng.randrange(10**5):05d}" qty="{rng.randint(1, 9)}"/>\n'
        f"  <note>{note}</note>\n</order>"
    )


class Catalog:
    """Source-of-truth state of the catalog and its next day."""

    def __init__(self, seed: int, n_subs: int, months: int):
        self.rng = random.Random(seed)
        self.n_subs = n_subs
        self.months = months
        self.first = datetime(D0.year - months // 12, 1, 1)
        self.state: dict[str, dict[str, dict]] = {t: {} for t in TABLES}
        self.children: dict[str, list[tuple[str, str]]] = {}
        self._next = {t: 1 for t in TABLES}
        for _ in range(n_subs):
            self._new_subscription(self._initial_created())
        self.initial = _copy(self.state)
        self.day = self._day()

    # -- identities and times -------------------------------------------
    def _id(self, table: str) -> str:
        n = self._next[table]
        self._next[table] = n + 1
        return str(n)

    def _initial_created(self) -> datetime:
        # growth: later months hold more subscriptions (weight ~ 1 + i)
        u = self.rng.random()
        i = int(self.months * math.sqrt(u))
        start = self.first + timedelta(days=31 * i)
        start = start.replace(day=1)
        nxt = (start + timedelta(days=32)).replace(day=1)
        span = (min(nxt, D0) - start).total_seconds()
        return start + timedelta(seconds=int(self.rng.random() * (span - 7200)))

    def _after(self, t: datetime, hours: float = 2) -> datetime:
        return t + timedelta(seconds=self.rng.randint(1, int(hours * 3600)))

    def _touch_time(self, created: datetime, lo: datetime, hi: datetime) -> datetime:
        lo = max(lo, created)
        return lo + timedelta(seconds=self.rng.randint(0, max(0, int((hi - lo).total_seconds()) - 1)))

    # -- row builders ---------------------------------------------------
    def _put(self, table: str, row: dict, parent: tuple[str, str] | None) -> dict:
        self.state[table][row["id"]] = row
        if parent:
            self.children.setdefault(f"{parent[0]}:{parent[1]}", []).append(
                (table, row["id"])
            )
        return row

    def _base(self, table: str, created: datetime, updated: datetime | None = None) -> dict:
        r = self.rng
        row = {c: f"{c[:4]}-{r.getrandbits(20)}" for c in CATALOG[table].columns}
        row["id"] = self._id(table)
        row["status"] = r.choice(STATUSES) if "status" in row else None
        row["created_at"] = _ts(created)
        row["updated_at"] = _ts(updated or self._after(created, 24))
        return {k: v for k, v in row.items() if v is not None}

    def _new_order(self, created: datetime, updated: datetime | None = None) -> dict:
        row = self._base("retail_orders", created, updated)
        oid = int(row["id"])
        row["checkout_order_xml"] = _xml(self.rng, oid)
        row["generic_attributes"] = f'{{"origin": "web", "campaign": "c{oid % 7}"}}'
        return self._put("retail_orders", row, None)

    def _new_subscription(self, created: datetime, window=None) -> None:
        """One subscription with its order and descendant rows. With a
        ``window`` every row is created (and updated) inside it."""
        r = self.rng

        def when(parent: datetime):
            c = self._after(parent)
            if window:
                c = min(max(c, window[0]), window[1] - timedelta(seconds=1))
                return c, c
            return c, min(self._after(c, 24 * 30), D0 - timedelta(seconds=1))

        order = self._new_order(*when(created - timedelta(hours=3)))
        oc = _dt(order["created_at"])
        c, u = when(oc)
        sub = self._base("retail_subscriptions", c, u)
        sub["retail_order_id"] = order["id"]
        self._put("retail_subscriptions", sub, None)
        sid = sub["id"]
        for _ in range(r.choice((1, 1, 2))):
            c, u = when(_dt(sub["created_at"]))
            plan = self._base("retail_plans", c, u)
            plan["retail_subscription_id"] = sid
            self._put("retail_plans", plan, ("retail_subscriptions", sid))
            for _ in range(r.randint(1, 3)):
                c, u = when(_dt(plan["created_at"]))
                item = self._base("retail_items", c, u)
                item["retail_plan_id"] = plan["id"]
                self._put("retail_items", item, ("retail_plans", plan["id"]))
                c, u = when(_dt(item["created_at"]))
                prov = self._base("retail_provisionings", c, u)
                prov["retail_item_id"] = item["id"]
                self._put("retail_provisionings", prov, ("retail_items", item["id"]))
        for _ in range(r.choice((0, 1, 2))):
            c, u = when(_dt(sub["created_at"]))
            adj = self._base("retail_subscription_readjustments", c, u)
            adj["retail_subscription_id"] = sid
            adj["suspended"] = r.choice(BOOL_SPELLINGS)
            self._put("retail_subscription_readjustments", adj, ("retail_subscriptions", sid))
        if r.random() < 0.4:
            c, u = when(_dt(sub["created_at"]))
            om = self._base("retail_order_migrations", c, u)
            om["retail_subscription_id"] = sid
            om["pre_paid"] = r.choice(BOOL_SPELLINGS)
            om["main"] = r.choice(BOOL_SPELLINGS)
            self._put("retail_order_migrations", om, ("retail_subscriptions", sid))
            for _ in range(r.randint(1, 2)):
                c, u = when(_dt(om["created_at"]))
                mig = self._base("retail_migrations", c, u)
                mig["retail_order_migration_id"] = om["id"]
                self._put("retail_migrations", mig, ("retail_order_migrations", om["id"]))

    def _descendants(self, table: str, rid: str):
        for ct, cid in self.children.get(f"{table}:{rid}", ()):
            yield ct, cid
            yield from self._descendants(ct, cid)

    # -- one simulated day ----------------------------------------------
    def _skewed(self, table: str, k: int) -> list[str]:
        """k distinct live ids of ``table``, weighted toward the newest
        created-at months (weight doubles every 3 months)."""
        rows = self.state[table]
        ids = sorted(rows, key=int)
        if not ids:
            return []
        weights = [
            2.0 ** (-(D0 - _dt(rows[i]["created_at"])).days / 91)
            for i in ids
        ]
        picked: set[str] = set()
        k = min(k, len(ids))
        while len(picked) < k:
            picked.update(self.rng.choices(ids, weights, k=k - len(picked)))
        return sorted(picked, key=int)

    def _day(self) -> dict:
        """Mutate the truth state by the day after ``D0`` and return
        that day's Scheduled clock and source snapshot."""
        r = self.rng
        start = D0
        mid, end = start + timedelta(hours=12), start + timedelta(days=1)
        # updates and new subscriptions in the first half of the day
        for sid in self._skewed("retail_subscriptions", max(1, self.n_subs // 20)):
            sub = self.state["retail_subscriptions"][sid]
            created = _dt(sub["created_at"])
            sub["status"] = r.choice(STATUSES)
            sub["updated_at"] = _ts(self._touch_time(created, start, mid))
            for ct, cid in self._descendants("retail_subscriptions", sid):
                if r.random() < 0.3:
                    row = self.state[ct].get(cid)
                    if row is None:
                        continue
                    row["number"] = f"numb-{r.getrandbits(20)}"
                    row["updated_at"] = _ts(self._touch_time(
                        _dt(row["created_at"]), start, mid))
            oid = sub["retail_order_id"]
            order = self.state["retail_orders"].get(oid)
            if order is not None and r.random() < 0.5:
                order["status"] = r.choice(STATUSES)
                order["updated_at"] = _ts(self._touch_time(
                    _dt(order["created_at"]), start, mid))
        for _ in range(max(1, self.n_subs // 200)):
            self._new_subscription(self._after(start, 6), window=(start, mid))
        return {"clock": end, "snapshot": _copy(self.state)}

    # -- writers --------------------------------------------------------
    @staticmethod
    def write_drop(root: str, state: dict[str, dict[str, dict]]) -> None:
        """Write one CSV per table under ``root``."""
        os.makedirs(root, exist_ok=True)
        for t, rows in state.items():
            with open(os.path.join(root, f"{t}.csv"), "wb") as f:
                f.write(csv_bytes(t, [rows[i] for i in sorted(rows, key=int)]))

    @staticmethod
    def partitions(state: dict[str, dict[str, dict]]) -> dict[str, dict[str, list[dict]]]:
        """{table: {partition directory: lake rows in id order}}."""
        out: dict[str, dict[str, list[dict]]] = {}
        for t, rows in state.items():
            parts = out.setdefault(t, {})
            for i in sorted(rows, key=int):
                row = lake_row(t, rows[i])
                parts.setdefault(partition_dir(t, row), []).append(row)
        return out

    @staticmethod
    def write_lake(lake_root: str, state: dict[str, dict[str, dict]]) -> None:
        """Write tables straight into the lake layout the writer keeps
        (one parquet file per partition directory, every column a
        string), without Spark."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        for t, parts in Catalog.partitions(state).items():
            cols = CATALOG[t].columns
            for rel, part in sorted(parts.items()):
                d = os.path.join(lake_table_root(lake_root, t), rel)
                os.makedirs(d, exist_ok=True)
                pq.write_table(
                    pa.table({c: pa.array([r[c] for r in part], pa.string()) for c in cols}),
                    os.path.join(d, "part-00000.snappy.parquet"),
                )

    @staticmethod
    def expected_hashes(state: dict[str, dict[str, dict]]) -> dict[str, dict[str, set]]:
        """{table: {partition directory: {(id, row hash)}}}."""
        return {
            t: {rel: {(r[CATALOG[t].id_col], row_hash(t, r)) for r in rows} for rel, rows in parts.items()}
            for t, parts in Catalog.partitions(state).items()
        }
