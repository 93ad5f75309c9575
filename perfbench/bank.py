"""The ``bank`` workload: an EventBank and a WaveBank loaded from the
``events`` table with the registry's mapping, then a seeded op stream of
index reads, gap/availability queries and upserts, each read checked
against a shadow model of the rows written so far."""

from __future__ import annotations

import math
import os
import random
import shutil
import time

import pyarrow.parquet as pq

from perfbench.oracle import EVENT_COLS, WAVE_COLS, BankShadow
from perfbench.workloads import EVENT_TYPES, NS, UPSERT_ROWS, Op

#: sampling period stamped on every waveform index row (100 Hz), in ns
SAMPLING_PERIOD_NS = 10_000_000


def _event_row(event_id: int, time_ns: int, user_id: int, value: float) -> dict:
    """One event-summary row; must equal what ``_event_frame`` computes
    in Spark for the same inputs (the shadow model relies on it)."""
    return {
        "event_id": f"e{event_id}",
        "time": time_ns,
        "latitude": (user_id * 37 % 18000) / 100.0 - 90.0,
        "longitude": (user_id * 91 % 36000) / 100.0 - 180.0,
        "depth": (event_id % 70) * 10.0,
        "magnitude": value / 100.0,
    }


def _wave_row(event_id: int, start_ns: int, end_ns: int, user_id: int,
              event_type: str) -> dict:
    return {
        "network": "EV",
        "station": event_type,
        "location": "",
        "channel": f"u{user_id % 10}",
        "starttime": start_ns,
        "endtime": end_ns,
        "sampling_period": SAMPLING_PERIOD_NS,
        "path": f"ev/{event_id}",
    }


class BankWorkload:
    """Owns both banks, their shadow model and the upsert id counter."""

    def __init__(self, spark, entry, sf_dir: str, bank_dir: str):
        self.spark = spark
        self.entry = entry
        self.sf_dir = sf_dir
        self.bank_dir = bank_dir
        self.shadow: BankShadow | None = None
        self.next_id = 0

    def _event_frame(self):
        """events -> event-summary rows via the registry's ts->ns mapping."""
        from pyspark.sql import functions as F

        ev = self.entry._t(self.spark, self.sf_dir, "events")
        uid = F.col("user_id")
        return ev.select(
            F.concat(F.lit("e"), F.col("event_id").cast("string")).alias("event_id"),
            self.entry._ts_ns().alias("time"),
            ((uid * 37 % 18000) / 100.0 - 90.0).alias("latitude"),
            ((uid * 91 % 36000) / 100.0 - 180.0).alias("longitude"),
            ((F.col("event_id") % 70) * 10.0).alias("depth"),
            (F.col("value") / 100.0).alias("magnitude"),
        )

    def _wave_frame(self):
        """events -> waveform index rows via the registry's interval
        mapping (``_event_intervals``) and NSLC codes."""
        from pyspark.sql import functions as F

        iv = self.entry._event_intervals(self.spark, self.sf_dir)
        return iv.select(
            F.lit("EV").alias("network"),
            F.col("event_type").alias("station"),
            F.lit("").alias("location"),
            F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias("channel"),
            "starttime",
            "endtime",
            F.lit(SAMPLING_PERIOD_NS).cast("long").alias("sampling_period"),
            F.concat(F.lit("ev/"), F.col("event_id").cast("string")).alias("path"),
        )

    def load(self) -> float:
        """Fresh banks, loaded from ``events``; the shadow model gets the
        same rows computed in Python. Returns the seconds the shadow model
        took, which are the benchmark's own work, not the banks'."""
        from obsplus_spark.sources.bank import EventBank, WaveBank

        shutil.rmtree(self.bank_dir, ignore_errors=True)
        self.events = EventBank(self.spark, os.path.join(self.bank_dir, "events"))
        self.waves = WaveBank(self.spark, os.path.join(self.bank_dir, "waves"))
        self.events.put_events(self._event_frame())
        self.waves.update_index(self._wave_frame())

        t0 = time.perf_counter()
        table = pq.read_table(
            os.path.join(self.sf_dir, "events.parquet"),
            columns=["event_id", "ts", "user_id", "event_type", "value"],
        )
        t = table.set_column(
            1, "ts", table.column("ts").cast("int64")
        ).to_pydict()
        val_to_ns = float(self.entry.VAL_TO_NS)
        ev_rows, wave_rows = [], []
        for eid, ts, uid, etype, value in zip(
            t["event_id"], t["ts"], t["user_id"], t["event_type"], t["value"]
        ):
            ns = ts * 1000  # µs -> ns, as the registry's _ts_ns()
            ev_rows.append(_event_row(eid, ns, uid, value))
            wave_rows.append(_wave_row(
                eid, ns, ns + math.floor(value * val_to_ns), uid, etype
            ))
        self.shadow = BankShadow(ev_rows, wave_rows)
        self.next_id = max(t["event_id"]) + 1
        self._time_range = (
            min(r["time"] for r in ev_rows), max(r["time"] for r in ev_rows)
        )
        return time.perf_counter() - t0

    # -- ops -----------------------------------------------------------------
    def run(self, op: Op) -> tuple[list[tuple] | None, float, float]:
        """Execute one op; returns (rows it returned, or None for an
        upsert; seconds it took; seconds of the benchmark's own work
        around it). For an upsert the batch making and the shadow model
        update are that own work: they run outside the op's clock, and
        the caller keeps them out of the timed phase's wall time."""
        kw = op.args()
        if op.is_write:
            t0 = time.perf_counter()
            rows = self._batch(op.bank, kw["batch"])
            own_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            if op.bank == "event":
                df = self.spark.createDataFrame(
                    [tuple(r[c] for c in EVENT_COLS) for r in rows], _EVENT_SCHEMA
                )
                self.events.put_events(df)
            else:
                df = self.spark.createDataFrame(
                    [tuple(r[c] for c in WAVE_COLS) for r in rows], _WAVE_SCHEMA
                )
                self.waves.update_index(df)
            dt = time.perf_counter() - t0
            t0 = time.perf_counter()
            if op.bank == "event":
                self.shadow.upsert_events(rows)
            else:
                self.shadow.upsert_waves(rows)
            return None, dt, own_s + time.perf_counter() - t0
        t0 = time.perf_counter()
        if op.bank == "event":
            df = self.events.read_index(**kw).select(*EVENT_COLS)
        elif op.kind == "read":
            df = self.waves.read_index(**kw).select(*WAVE_COLS)
        elif op.kind == "gaps":
            df = self.waves.get_gaps(**kw).select(
                "network", "station", "location", "channel", "sampling_period",
                "gap_start", "gap_end", "gap_duration",
            )
        else:
            df = self.waves.availability(**kw).select(
                "network", "station", "location", "channel", "starttime", "endtime",
            )
        rows = [tuple(r) for r in df.collect()]
        return rows, time.perf_counter() - t0, 0.0

    def check(self, op: Op, rows: list[tuple]) -> str | None:
        want = self.shadow.expected(op.kind, op.bank, op.args())
        got = sorted(rows)
        if got == want:
            return None
        return f"{len(got)} rows, shadow model has {len(want)}"

    def _batch(self, bank: str, batch_seed: int) -> list[dict]:
        """~UPSERT_ROWS rows: two thirds replace existing keys with new
        values, one third are new keys inside the stream's time range."""
        rng = random.Random(batch_seed)
        n_old = UPSERT_ROWS * 2 // 3
        lo, hi = self._time_range
        if bank == "event":
            keys = sorted(self.shadow.events)
            out = []
            for k in rng.sample(keys, n_old):
                r = dict(self.shadow.events[k])
                r["magnitude"] = round(rng.uniform(0.0, 5.0), 2)
                out.append(r)
            for _ in range(UPSERT_ROWS - n_old):
                eid = self.next_id
                self.next_id += 1
                out.append(_event_row(
                    eid, rng.randrange(lo, hi, 1000), rng.randrange(1500),
                    round(rng.expovariate(1 / 50.0), 2),
                ))
            return out
        keys = sorted(self.shadow.waves)
        out = []
        for k in rng.sample(keys, n_old):
            r = dict(self.shadow.waves[k])
            r["endtime"] = r["starttime"] + rng.randrange(1, 3 * 3600) * NS
            out.append(r)
        for _ in range(UPSERT_ROWS - n_old):
            eid = self.next_id
            self.next_id += 1
            start = rng.randrange(lo, hi, 1000)
            out.append(_wave_row(
                eid, start, start + rng.randrange(1, 3 * 3600) * NS,
                rng.randrange(1500), rng.choice(EVENT_TYPES),
            ))
        return out

    def close(self) -> None:
        shutil.rmtree(self.bank_dir, ignore_errors=True)


_EVENT_SCHEMA = (
    "event_id string, time long, latitude double, longitude double, "
    "depth double, magnitude double"
)
_WAVE_SCHEMA = (
    "network string, station string, location string, channel string, "
    "starttime long, endtime long, sampling_period long, path string"
)
