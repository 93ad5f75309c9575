"""Output checks: registry queries against their DuckDB ``oracle_sql()``
twins, bank reads against a shadow model of the rows written so far.

The registry check reuses ``tools/check.py``'s row normalization (columns
sorted by name, rows sorted, NaN spelled out) by importing it, so the
benchmark and the repository's correctness harness agree on what a match
is.
"""

from __future__ import annotations

import fnmatch
import hashlib
import importlib.util
import math
import os
import pickle

from perfbench.workloads import NS

_CHECK_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _load_check_module(path: str):
    spec = importlib.util.spec_from_file_location("_repo_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class RegistryOracle:
    """The DuckDB oracle answers of the named queries over one table set,
    normalized the way ``tools/check.py`` normalizes them.

    The answers are made when the object is, before the Spark session
    starts, so DuckDB never shares the CPUs with the program. Each one is
    kept under ``cache_dir``, keyed by a digest of its SQL, the table set's
    marker file, the DuckDB version and ``tools/check.py``, so later runs
    in the same checkout load it instead of recomputing it."""

    def __init__(self, root: str, sf_dir: str, oracles: dict[str, str],
                 names: list[str], cache_dir: str):
        import duckdb

        check_path = os.path.join(root, "tools", "check.py")
        self._normalize = _load_check_module(check_path)._normalize
        with open(check_path, "rb") as f:
            check_src = f.read()
        with open(os.path.join(sf_dir, "_perfbench.json"), "rb") as f:
            data_id = f.read()
        os.makedirs(cache_dir, exist_ok=True)
        con = None
        #: name -> (sorted column names, normalized rows)
        self._answers: dict[str, tuple[list[str], list[tuple]]] = {}
        for n in names:
            sql = oracles.get(n)
            if sql is None:
                continue
            key = hashlib.sha256(b"\0".join((
                sql.encode(), data_id, duckdb.__version__.encode(), check_src,
            ))).hexdigest()[:24]
            path = os.path.join(cache_dir, f"{n}-{key}.pickle")
            try:
                with open(path, "rb") as f:
                    self._answers[n] = pickle.load(f)
                continue
            except (OSError, EOFError, pickle.UnpicklingError):
                pass
            if con is None:
                con = duckdb.connect()
                for t in _CHECK_TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')"
                    )
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows, names_sorted = self._normalize(res.fetchall(), cols)
            self._answers[n] = (names_sorted, rows)
            with open(path + ".tmp", "wb") as f:
                pickle.dump(self._answers[n], f, protocol=pickle.HIGHEST_PROTOCOL)
            os.replace(path + ".tmp", path)
        if con is not None:
            con.close()

    def compare(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the Spark rows match the oracle, else a one-line
        description of the first difference."""
        answer = self._answers.get(name)
        if answer is None:
            return "no oracle_sql() twin"
        ocols, o_rows = answer
        if sorted(cols) != ocols:
            return f"columns {sorted(cols)} != oracle {ocols}"
        if len(rows) != len(o_rows):
            return f"{len(rows)} rows != oracle {len(o_rows)}"
        s_rows, names = self._normalize(rows, cols)
        for i, (a, b) in enumerate(zip(s_rows, o_rows)):
            if a != b:
                diff = [(names[j], x, y) for j, (x, y) in enumerate(zip(a, b)) if x != y]
                return f"sorted row {i}: {diff[:3]}"
        return None


# -- bank shadow model -------------------------------------------------------

#: WaveBank's index-query edge buffer (WaveBank.buffer_ns)
WAVE_BUFFER_NS = 1 * NS
EVENT_COLS = ("event_id", "time", "latitude", "longitude", "depth", "magnitude")
WAVE_COLS = (
    "network", "station", "location", "channel",
    "starttime", "endtime", "sampling_period", "path",
)


def _wrap(v: float) -> float:
    m = v % 360.0
    return m - 360.0 if m > 180.0 else m


def _event_match(r: dict, kw: dict) -> bool:
    t = r["time"]
    if "starttime" in kw and not t > kw["starttime"]:
        return False
    if "endtime" in kw and not t < kw["endtime"]:
        return False
    for attr in ("latitude", "magnitude", "depth"):
        if f"min{attr}" in kw and not r[attr] > kw[f"min{attr}"]:
            return False
        if f"max{attr}" in kw and not r[attr] < kw[f"max{attr}"]:
            return False
    if "minlongitude" in kw:
        lo, hi = _wrap(kw["minlongitude"]), _wrap(kw["maxlongitude"])
        lon = _wrap(r["longitude"])
        inside = (lon > lo or lon < hi) if lo > hi else (lo < lon < hi)
        if not inside:
            return False
    return True


def _wave_match(r: dict, kw: dict) -> bool:
    t1 = kw.get("starttime")
    t2 = kw.get("endtime")
    if t2 is not None and not r["starttime"] < t2 + WAVE_BUFFER_NS:
        return False
    if t1 is not None and not r["endtime"] > t1 - WAVE_BUFFER_NS:
        return False
    for col in ("network", "station", "location", "channel"):
        pat = kw.get(col)
        if pat is not None and not fnmatch.fnmatchcase(r[col], pat):
            return False
    return True


class BankShadow:
    """The rows each bank should hold, keyed the way the banks upsert."""

    def __init__(self, events: list[dict], waves: list[dict]):
        self.events = {r["event_id"]: r for r in events}
        self.waves = {self.wave_key(r): r for r in waves}

    @staticmethod
    def wave_key(r: dict) -> tuple:
        return (r["network"], r["station"], r["location"], r["channel"],
                r["starttime"], r["path"])

    def upsert_events(self, rows: list[dict]) -> None:
        self.events.update((r["event_id"], r) for r in rows)

    def upsert_waves(self, rows: list[dict]) -> None:
        self.waves.update((self.wave_key(r), r) for r in rows)

    def event_rows(self, kw: dict) -> list[tuple]:
        return sorted(
            tuple(r[c] for c in EVENT_COLS)
            for r in self.events.values() if _event_match(r, kw)
        )

    def wave_rows(self, kw: dict) -> list[dict]:
        return [r for r in self.waves.values() if _wave_match(r, kw)]

    def expected(self, kind: str, bank: str, kw: dict) -> list[tuple]:
        """Sorted expected output rows of one bank read."""
        if bank == "event":
            return self.event_rows(kw)
        rows = self.wave_rows(kw)
        if kind == "read":
            return sorted(tuple(r[c] for c in WAVE_COLS) for r in rows)
        groups: dict[tuple, list[dict]] = {}
        for r in rows:
            groups.setdefault(
                (r["network"], r["station"], r["location"], r["channel"]), []
            ).append(r)
        if kind == "availability":
            return sorted(
                k + (min(r["starttime"] for r in g), max(r["endtime"] for r in g))
                for k, g in groups.items()
            )
        # gaps: per (NSLC, sampling_period), running max of end vs the next
        # start, default min gap 1.5 x sampling period (gaps_df semantics)
        out = []
        by_sp: dict[tuple, list[dict]] = {}
        for k, g in groups.items():
            for r in g:
                by_sp.setdefault(k + (r["sampling_period"],), []).append(r)
        for k, g in by_sp.items():
            g.sort(key=lambda r: (r["starttime"], r["endtime"]))
            min_gap = math.trunc(k[4] * 1.5)
            cum = None
            for cur, nxt in zip(g, g[1:]):
                cum = cur["endtime"] if cum is None else max(cum, cur["endtime"])
                if cum + min_gap < nxt["starttime"]:
                    out.append(k + (cum, nxt["starttime"], nxt["starttime"] - cum))
        return sorted(out)
