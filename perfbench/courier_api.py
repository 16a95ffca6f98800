"""Seeded in-process delivery API for the ``nightly_chain`` workload.

It serves the two endpoints of the reference's delivery system
(``/couriers`` and ``/deliveries``, page size 50, offset cursor) to the
pipeline's ``paginate`` loop, and predicts what the pipeline must have stored
after each day.

Run day ``d`` has the run date ``ds_d = first_ds + d days``. Every day adds
``per_day`` deliveries dated the day before its run date (day 0's fall inside
the 7-day cold-start window). Fixed shares of each later day are adversarial:

- replays: an already loaded delivery id, re-sent with a new timestamp and an
  altered payload (the SCD0 insert-ignore must drop it);
- late arrivals: new ids dated before the previous watermark (never fetched);
- bad rows: a rating outside 0..5 or a negative sum or tip (quarantined by the
  fact table's DDL checks); day 0 has them too;
- next-month orders: ``order_ts`` in the month after ``delivery_ts``;
- renames: couriers whose name changes that day (SCD1).

Records are kept sorted by ``(delivery_ts, delivery_id)`` once per day, and a
window's records are found by bisection and served by offset slicing. Every
page is serialized to JSON and parsed back, as an HTTP client would; the time
spent inside the endpoints is reported as ``fetch_s``.
"""

from __future__ import annotations

import bisect
import json
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

TS_FMT = "%Y-%m-%d %H:%M:%S"
DDS_WM_DEFAULT = datetime(2022, 1, 1)  # plans.promotions.DDS_WM_DEFAULT
COLD_START = timedelta(days=7)  # plans.promotions.load_deliveries_job

SHARE_REPLAY = 0.02
SHARE_LATE = 0.02
SHARE_BAD = 0.01
SHARE_NEXT_MONTH = 0.03
SHARE_RENAME = 0.01


@dataclass
class Counters:
    fetch_s: float = 0.0
    pages: int = 0
    records: int = 0
    delivery_records: int = 0
    json_bytes: int = 0

    def snapshot(self) -> Counters:
        return Counters(**vars(self))


@dataclass
class Expected:
    """What the lake must hold after the days run so far."""

    stg_rows: int = 0
    fact_rows: int = 0
    quarantined_rows: int = 0
    stg_watermark: str | None = None
    dds_watermark: str | None = None
    courier_names: dict[str, str] = field(default_factory=dict)


def _fmt(ts: datetime) -> str:
    return ts.strftime(TS_FMT)


class CourierApi:
    def __init__(
        self,
        seed: int,
        first_ds: datetime,
        n_days: int,
        n_couriers: int,
        per_day: int,
    ) -> None:
        self.first_ds = first_ds
        self.n_days = n_days
        self.counters = Counters()
        rng = random.Random(seed)
        self._names = self._courier_names(rng, n_couriers, n_days)
        # (arrival day, record), sorted by (delivery_ts, delivery_id)
        self._records = self._deliveries(rng, n_couriers, per_day)
        self._visible_day: int | None = None
        self._visible: list[dict] = []
        self._visible_ts: list[str] = []

    def ds(self, day: int) -> str:
        return (self.first_ds + timedelta(days=day)).strftime("%Y-%m-%d")

    # --- generation ---------------------------------------------------------

    def _courier_names(self, rng: random.Random, n: int, n_days: int) -> list[dict[str, str]]:
        names = {f"c{i:04d}": f"Courier {i:04d}" for i in range(n)}
        per_day = [dict(names)]
        for day in range(1, n_days):
            for cid in rng.sample(sorted(names), max(1, round(n * SHARE_RENAME))):
                names[cid] = f"{names[cid].split(' (')[0]} (renamed day {day})"
            per_day.append(dict(names))
        return per_day

    def _delivery(self, rng, did, courier, d_ts: datetime, bad: bool) -> dict:
        order_ts = d_ts - timedelta(minutes=rng.randrange(5, 90))
        if rng.random() < SHARE_NEXT_MONTH:
            nxt = (d_ts.replace(day=28) + timedelta(days=4)).replace(day=1, hour=0, minute=0, second=0)
            order_ts = nxt + timedelta(minutes=rng.randrange(1, 600))
        rec = {
            "order_id": f"o{did}",
            "order_ts": _fmt(order_ts),
            "delivery_id": f"d{did}",
            "courier_id": courier,
            "address": f"street {rng.randrange(1, 400)}, {rng.randrange(1, 90)}",
            "delivery_ts": _fmt(d_ts),
            "rate": rng.randrange(0, 6),
            "sum": round(rng.uniform(100, 5_000), 2),
            "tip_sum": round(rng.uniform(0, 300), 2),
        }
        if bad:
            kind = rng.randrange(3)
            if kind == 0:
                rec["rate"] = rng.choice([-1, 6, 7])
            elif kind == 1:
                rec["sum"] = -rec["sum"]
            else:
                rec["tip_sum"] = -rec["tip_sum"] - 0.01
        return rec

    def _deliveries(self, rng, n_couriers, per_day) -> list[tuple[int, dict]]:
        couriers = [f"c{i:04d}" for i in range(n_couriers)]
        out: list[tuple[int, dict]] = []
        seq = 0
        loaded: list[dict] = []  # records an earlier day's fetch window covered
        for day in range(self.n_days):
            ds = self.first_ds + timedelta(days=day)
            fresh = []
            for _ in range(per_day):
                d_ts = ds - timedelta(seconds=1 + rng.randrange(86_400))
                bad = rng.random() < SHARE_BAD
                fresh.append(self._delivery(rng, seq, rng.choice(couriers), d_ts, bad))
                seq += 1
            if day > 0:
                for src in rng.sample(loaded, round(per_day * SHARE_REPLAY)):
                    rep = dict(src)
                    rep["delivery_ts"] = _fmt(ds - timedelta(seconds=1 + rng.randrange(86_400)))
                    rep["sum"] = round(src["sum"] * 1.5 + 1, 2)
                    rep["tip_sum"] = round(src["tip_sum"] + 5, 2)
                    rep["rate"] = (src["rate"] + 1) % 6
                    out.append((day, rep))
                prev = ds - timedelta(days=1)
                for _ in range(round(per_day * SHARE_LATE)):
                    # dated a day before the previous run's window end
                    d_ts = prev - timedelta(days=1, seconds=1 + rng.randrange(86_400))
                    out.append((day, self._delivery(rng, seq, rng.choice(couriers), d_ts, False)))
                    seq += 1
            out.extend((day, rec) for rec in fresh)
            loaded.extend(fresh)
        out.sort(key=lambda ar: (ar[1]["delivery_ts"], ar[1]["delivery_id"]))
        return out

    # --- endpoints ----------------------------------------------------------

    def _serve(self, rows: list[dict], params: dict) -> list[dict]:
        off, lim = params.get("offset", 0), params.get("limit", 50)
        body = json.dumps(rows[off : off + lim])
        page = json.loads(body)
        self.counters.pages += 1
        self.counters.records += len(page)
        self.counters.json_bytes += len(body)
        return page

    def couriers(self, day: int):
        rows = sorted(
            ({"_id": cid, "name": name} for cid, name in self._names[day].items()),
            key=lambda r: r["name"],
        )

        def fetch(params: dict) -> list[dict]:
            t0 = time.perf_counter()
            try:
                return self._serve(rows, params)
            finally:
                self.counters.fetch_s += time.perf_counter() - t0

        return fetch

    def deliveries(self, day: int):
        def fetch(params: dict) -> list[dict]:
            t0 = time.perf_counter()
            try:
                if self._visible_day != day:
                    self._visible = [r for arrival, r in self._records if arrival <= day]
                    self._visible_ts = [r["delivery_ts"] for r in self._visible]
                    self._visible_day = day
                lo = bisect.bisect_left(self._visible_ts, params["from"])
                hi = bisect.bisect_left(self._visible_ts, params["to"])
                page = self._serve(self._visible[lo:hi], params)
                self.counters.delivery_records += len(page)
                return page
            finally:
                self.counters.fetch_s += time.perf_counter() - t0

        return fetch

    # --- predictions --------------------------------------------------------

    def expected(self, days_run: int) -> Expected:
        """Replays the pipeline's contract over the first ``days_run`` days:
        STG insert-ignore by delivery id within the window ``[stg watermark
        (or ds - 7 days), ds)``, STG cursor = max stored delivery_ts, DDS
        increment = STG rows strictly after the DDS cursor, DDL-violating
        increment rows quarantined, the rest appended as facts, and each
        courier's name taken from the courier list of the last day it was in
        the increment."""
        stg: dict[str, dict] = {}
        stg_wm: str | None = None
        dds_wm = _fmt(DDS_WM_DEFAULT)
        exp = Expected()
        for day in range(days_run):
            ds = datetime.strptime(self.ds(day), "%Y-%m-%d")
            lo = stg_wm or _fmt(ds - COLD_START)
            hi = _fmt(ds)
            for arrival, r in self._records:
                if arrival <= day and lo <= r["delivery_ts"] < hi:
                    stg.setdefault(r["delivery_id"], r)
            if stg:
                stg_wm = max(r["delivery_ts"] for r in stg.values())
            increment = [r for r in stg.values() if r["delivery_ts"] > dds_wm]
            for r in increment:
                if 0 <= r["rate"] <= 5 and r["sum"] >= 0 and r["tip_sum"] >= 0:
                    exp.fact_rows += 1
                else:
                    exp.quarantined_rows += 1
                exp.courier_names[r["courier_id"]] = self._names[day][r["courier_id"]]
            if increment:
                dds_wm = max(r["delivery_ts"] for r in increment)
                exp.dds_watermark = dds_wm
        exp.stg_rows = len(stg)
        exp.stg_watermark = stg_wm
        return exp
