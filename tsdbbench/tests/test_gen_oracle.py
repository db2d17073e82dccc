"""Generator and oracle checks (pure Python, no Spark).

    python3 -m pytest tsdbbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import random

from tsdbbench import gen
from tsdbbench.oracle import ModelOracle, ObsOracle, asof

H = dt.timedelta(hours=1)


def _files(tmp, seed, k=2, hours=72, step=48, rate=0.0, per_type=3):
    u = gen.make_universe(seed, per_type)
    rng = random.Random(seed)
    out = []
    for i in range(k):
        start = gen.EPOCH + i * step * H
        out.append(gen.write_obs_file(str(tmp), u, u.sources[0], start, hours,
                                      start + hours * H, rng, malformed_rate=rate,
                                      colon=i % 2 == 1))
    return u, out


def _read_dir(path):
    return {n: open(os.path.join(path, n)).read() for n in sorted(os.listdir(path))}


def test_same_seed_same_bytes(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    (tmp_path / "c").mkdir()
    _files(tmp_path / "a", 7, rate=0.05)
    _files(tmp_path / "b", 7, rate=0.05)
    _files(tmp_path / "c", 8, rate=0.05)
    assert _read_dir(tmp_path / "a") == _read_dir(tmp_path / "b")
    assert _read_dir(tmp_path / "a") != _read_dir(tmp_path / "c")


def test_universe_invariants():
    u = gen.make_universe(3, 5)
    prefixes = [s.prefix for s in u.sources]
    assert not any(a != b and b.startswith(a) for a in prefixes for b in prefixes)
    assert len({s.minute for s in u.sources}) == len(u.sources)
    assert sum(len(u.stations_of(t)) for t in gen.LOCATION_TYPES) == 20


def test_malformed_rows_counted_and_inside_the_file_range(tmp_path):
    _, files = _files(tmp_path, 5, k=1, rate=0.2)
    f = files[0]
    lines = open(tmp_path / f.name).read().splitlines()[1:]
    times = [ln.split(",")[1] for ln in lines]
    bad = [t for t in times if int(t[11:13]) >= 24]
    assert len(bad) == f.n_malformed > 0
    assert len(lines) == len(f.rows) + f.n_malformed
    good = [t for t in times if t not in bad]
    assert min(good) < min(bad) and max(bad) < max(good)


def test_keep_latest_and_superseded_count(tmp_path):
    _, (old, new) = _files(tmp_path, 11)
    oracle = ObsOracle()
    assert oracle.apply([old]) == 0
    # 24 overlapping hours per station
    assert oracle.apply([new]) == 24 * 3
    assert oracle.n_rows() == (72 + 48) * 3
    reverse = ObsOracle()
    reverse.apply([new])
    reverse.apply([old])
    assert reverse.checksum() == oracle.checksum()
    s, t, v = new.rows[0]
    assert oracle.rows[s][t][4] == v  # the newer timemark won


def test_x1_payload_layout(tmp_path):
    u, (f,) = _files(tmp_path, 2, k=1)
    assert u.sources[0].data_source == "tidal_gauge"
    oracle = ObsOracle()
    oracle.apply([f])
    station, t0, v0 = f.rows[0]
    out = oracle.x1(station, t0, t0 + 2 * H)
    assert [r["time_stamp"] for r in out] == [
        (t0 + i * H).strftime(gen.TIME_FMT) for i in range(3)]
    assert out[0]["tidal_gauge_water_level"] == v0
    assert set(out[0]) == {"time_stamp", "ocean_buoy_wave_height",
                           "tidal_gauge_water_level", "tidal_predictions",
                           "coastal_gauge_water_level", "river_gauge_water_level"}


def test_model_nowcasts_never_overlap_and_asof_tolerance(tmp_path):
    u = gen.make_universe(4, 2)
    rng = random.Random(4)
    model = ModelOracle()
    runs = []
    for c in range(3):
        tm = gen.EPOCH + 6 * c * H
        r = gen.write_model_run(str(tmp_path), u, tm, tropical=False, rng=rng,
                                forecast_hours=12, nowcast_hours=6,
                                station_types=("NOAASTATIONS",))
        model.apply(r, {(k, "NOAASTATIONS"): k for k in ("FORECAST", "NOWCAST")})
        runs.append(r)
    station = u.stations_of("tidal")[0]
    series = model.x4(station, gen.EPOCH - 6 * H, gen.EPOCH + 12 * H, "NOWCAST")
    assert len(series) == 18  # three disjoint 6-hour nowcasts
    # observations for the first 4 hours only: later model points find
    # none within the 1-hour tolerance
    obs = ObsOracle()
    obs.apply([gen.write_obs_file(str(tmp_path), u, u.sources[0], gen.EPOCH, 4,
                                  gen.EPOCH + 4 * H, rng)])
    rows = asof(obs, model, station, gen.EPOCH, gen.EPOCH + 12 * H)
    matched = [r for r in rows if r[4] is not None]
    assert 0 < len(matched) < len(rows)
    for _, _, t, _, t_asof, wl in rows:
        assert t_asof is None or t - H <= t_asof <= t
        assert (wl is None) == (t_asof is None)
