"""The seeded grid generator reproduces gridgen's fixture exactly."""

import gridsynth
from w4h_etl_container_spark.sources import gridgen


def test_fixture_domain_seed_42_is_the_golden_fixture():
    got = gridsynth.tables(gridsynth.FIXTURE, 42)
    assert got["gfs_run"].equals(gridgen.gfs_run())
    assert got["gfs_run_prev"].equals(gridgen.gfs_run_prev())
    assert got["near_land"].equals(gridgen.near_land())


def test_gridgen_is_restored_and_sizes_follow_the_domain():
    before = gridgen.grid_coords, gridgen.SEED, gridgen.N_HOURS
    t = gridsynth.tables(gridsynth.Domain(lat=(-4.0, 4.0), lon=((0.0, 6.0),), res=2.0, n_hours=5), 7)
    assert (gridgen.grid_coords, gridgen.SEED, gridgen.N_HOURS) == before
    assert len(t["gfs_run"]) == 5 * 4 * 5
    assert len(t["near_land"]) == 5 * 4
    assert gridsynth.GLOBAL_2DEG.cell_hours == 802_620
    assert gridsynth.FIXTURE.cell_hours == 122_549


def test_seed_changes_the_fields():
    a = gridsynth.tables(gridsynth.FIXTURE, 1)["gfs_run"]
    b = gridsynth.tables(gridsynth.FIXTURE, 2)["gfs_run"]
    assert a[["lat", "lon", "ts"]].equals(b[["lat", "lon", "ts"]])
    assert not a["tmp2m"].equals(b["tmp2m"])
