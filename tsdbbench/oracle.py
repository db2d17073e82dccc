"""Pure-Python oracle: the expected ``gauge_data``/``model_data`` state and
the expected payload of every dashboard read, computed from the
generator's records alone (no Spark).

Keep-latest rule: per (source, time) the row of the newest
(timemark, file datetime, file name) wins; the generator makes the file
datetime equal to the timemark and timemarks unique per source, so the
batch path's and the stream path's orderings agree. Malformed rows never
reach the oracle.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

from .gen import TIME_FMT, ModelRun, ObsFile

#: read-API category layouts (``scripts/get_obs_timeseries_station_data*.sql``)
X1_CATEGORIES = {
    "ocean_buoy": "ocean_buoy_wave_height",
    "tidal_gauge": "tidal_gauge_water_level",
    "tidal_predictions": "tidal_predictions",
    "coastal_gauge": "coastal_gauge_water_level",
    "river_gauge": "river_gauge_water_level",
}
X2_POST = dict(X1_CATEGORIES) | {
    "stream_gauge": "stream_gauge_stream_elevation",
    "wind_anemometer": "wind_anemometer",
}
X1_VARIABLES = ("water_level", "wave_height")
OBS_MEASURES = ("water_level", "wave_height", "wind_speed", "air_pressure",
                "stream_elevation", "flow_volume")


def _label(name: str) -> str:
    return name.replace(".", "")


class ObsOracle:
    """Expected gauge_data. Within one station no two sources share a
    timestamp (generator invariant), so (station, time) identifies a row."""

    def __init__(self) -> None:
        # station -> time -> (order, data_source, source key, variable, value, timemark)
        self.rows: dict[str, dict[dt.datetime, tuple]] = defaultdict(dict)

    def apply(self, files: list[ObsFile]) -> int:
        """Land ``files``; returns the rows superseded (keys that already
        held a row, or that two of ``files`` share)."""
        superseded = 0
        for f in files:
            order = (f.timemark, f.file_key)
            src = f.source
            for s, t, v in f.rows:
                cur = self.rows[s].get(t)
                if cur is not None:
                    if cur[2] != src.key:
                        raise AssertionError(f"two sources share {s} {t}")
                    superseded += 1
                    if cur[0] > order:
                        continue
                self.rows[s][t] = (order, src.data_source, src.key,
                                   src.variable, v, f.timemark)
        return superseded

    def n_rows(self) -> int:
        return sum(len(r) for r in self.rows.values())

    def checksum(self) -> dict[tuple, tuple]:
        """(station, data_source, source_name, source_archive, timemark)
        -> (rows, sum of round(value * 100), min time, max time)."""
        out: dict[tuple, list] = {}
        for s, by_time in self.rows.items():
            for t, (_, _, key, _, v, tm) in by_time.items():
                k = (s, *key, tm)
                acc = out.get(k)
                if acc is None:
                    out[k] = [1, round(v * 100), t, t]
                else:
                    acc[0] += 1
                    acc[1] += round(v * 100)
                    acc[2] = min(acc[2], t)
                    acc[3] = max(acc[3], t)
        return {k: tuple(v) for k, v in out.items()}

    def window(self, station: str, start: dt.datetime, end: dt.datetime):
        for t, row in sorted(self.rows.get(station, {}).items()):
            if start <= t <= end:
                yield t, row

    def x1(self, station: str, start: dt.datetime, end: dt.datetime) -> list[dict]:
        out = []
        for t, (_, ds, _, var, v, _) in self.window(station, start, end):
            rec = {"time_stamp": t.strftime(TIME_FMT)}
            rec.update({label: None for label in X1_CATEGORIES.values()})
            if ds in X1_CATEGORIES and var in X1_VARIABLES:
                rec[X1_CATEGORIES[ds]] = v
            out.append(rec)
        return out

    def x2(self, station: str, start: dt.datetime, end: dt.datetime,
           nowcast_source: str) -> list[dict]:
        cats = {"air_barometer": "air_barometer",
                nowcast_source: _label(nowcast_source)} | X2_POST
        out = []
        for t, (_, ds, _, var, v, _) in self.window(station, start, end):
            rec = {"time_stamp": t.strftime(TIME_FMT)}
            rec.update({label: None for label in cats.values()})
            if ds in cats and var in OBS_MEASURES:
                rec[cats[ds]] = v
            out.append(rec)
        return out


class ModelOracle:
    """Expected model_data: (station, data_source, timemark, time) -> value."""

    def __init__(self) -> None:
        self.rows: dict[str, dict[tuple, float]] = defaultdict(dict)

    def apply(self, run: ModelRun, data_sources: dict[tuple[str, str], str]) -> None:
        """``data_sources`` maps (kind, station_type) to the data_source
        the package derives for that file (``derive_source``)."""
        for mf in run.files:
            ds = data_sources[(mf.kind, mf.station_type)]
            for s, t, v in mf.rows:
                self.rows[s][(ds, run.timemark, t)] = v

    def checksum(self) -> dict[tuple, tuple]:
        """(station, data_source, timemark) -> (rows, sum of
        round(value * 1000), min time, max time)."""
        out: dict[tuple, list] = {}
        for s, by_key in self.rows.items():
            for (ds, tm, t), v in by_key.items():
                k = (s, ds, tm)
                acc = out.get(k)
                if acc is None:
                    out[k] = [1, round(v * 1000), t, t]
                else:
                    acc[0] += 1
                    acc[1] += round(v * 1000)
                    acc[2] = min(acc[2], t)
                    acc[3] = max(acc[3], t)
        return {k: tuple(v) for k, v in out.items()}

    def _series(self, station: str, data_source: str, start, end, timemark=None):
        by_time = {}
        for (ds, tm, t), v in self.rows.get(station, {}).items():
            if ds != data_source or not (start <= t <= end):
                continue
            if timemark is not None and tm != timemark:
                continue
            if t in by_time:
                raise AssertionError(f"ambiguous model cell {station} {ds} {t}")
            by_time[t] = v
        label = _label(data_source)
        return [{"time_stamp": t.strftime(TIME_FMT), label: by_time[t]}
                for t in sorted(by_time)]

    def x3(self, station: str, timemark: dt.datetime, end: dt.datetime,
           data_source: str) -> list[dict]:
        return self._series(station, data_source, timemark, end, timemark)

    def x4(self, station: str, start: dt.datetime, end: dt.datetime,
           data_source: str) -> list[dict]:
        return self._series(station, data_source, start, end)


def asof(obs: ObsOracle, model: ModelOracle, station: str, start: dt.datetime,
         end: dt.datetime, tolerance=dt.timedelta(hours=1)) -> list[tuple]:
    """Expected ``get_model_vs_obs_asof`` rows, sorted: (station, data_source,
    time, model water_level, time_asof, water_level_asof). Observations
    come from the same [start, end] window."""
    obs_pts = [(t, v if var == "water_level" else None)
               for t, (_, _, _, var, v, _) in obs.window(station, start, end)]
    out = []
    for (ds, _, t), v in model.rows.get(station, {}).items():
        if not (start <= t <= end):
            continue
        match = None
        for ot, ov in obs_pts:  # ascending; keep the last at-or-before t
            if ot > t:
                break
            match = (ot, ov)
        if match is None or match[0] < t - tolerance:
            match = (None, None)
        out.append((station, ds, t, v, *match))
    return sorted(out, key=_sort_key)


def _sort_key(row: tuple) -> tuple:
    return tuple((x is None, x if x is not None else 0) for x in row)


def sort_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=_sort_key)
