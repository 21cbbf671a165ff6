"""File sources: dat scan round trip, query-file round trip, FITS codec
and distributed FITS scan round trip (mirrors the reference's
FITS save/load equality test, test/db_tier/test_connectors.py:~100)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from lightcurvesclassifier_spark.sources import files, fits, testdata
from tests.conftest import SF_SMOKE


def test_dat_scan_parses_and_filters(spark, tmp_path):
    d = tmp_path / "dat"
    d.mkdir()
    (d / "star_a.dat").write_text(
        "1.0 10.5 0.1\n2.0 -99 0.1\n# comment\n3.0 11.25 -99\n\n4.0 nan 0.2\n"
    )
    (d / "star_b.dat").write_text("5.5  12.125\t0.3\n")
    out = files.load_dat_curves(spark, str(d)).orderBy("star_id", "t").collect()
    # star_a: row t=2 dropped (mag sentinel), t=4 dropped (nan mag),
    # t=3 kept with err=None; star_b whitespace-mixed row parses.
    assert [(r["star_id"], r["t"], r["mag"], r["err"]) for r in out] == [
        ("star_a", 1.0, 10.5, 0.1),
        ("star_a", 3.0, 11.25, None),
        ("star_b", 5.5, 12.125, 0.3),
    ]


def test_dat_files_limit_and_class(spark, tmp_path):
    d = tmp_path / "dat2"
    d.mkdir()
    for i in range(4):
        (d / f"s{i}.dat").write_text("1.0 1.0 0.0\n")
    out = files.load_dat_curves(
        spark, str(d), files_limit=2, star_class="qso"
    ).collect()
    assert sorted(r["star_id"] for r in out) == ["s0", "s1"]
    assert all(r["star_class"] == "qso" for r in out)


def test_dat_round_trip(spark, tmp_path):
    obs = testdata.observations(spark, SF_SMOKE).filter(F.col("star_id") < 3)
    target = tmp_path / "dat_out"
    files.save_dat_curves(obs, str(target))
    back = files.load_dat_curves(spark, str(target))
    orig = obs.select(
        F.col("star_id").cast("string").alias("star_id"),
        F.round("t", 3).alias("t"),
        F.round("mag", 3).alias("mag"),
    )
    got = back.select("star_id", "t", "mag")
    assert got.count() == orig.count()
    assert got.exceptAll(orig).count() == 0


def test_query_file_round_trip(tmp_path):
    """Strings per cell, None for an empty one, blank lines skipped."""
    p = tmp_path / "queries.txt"
    p.write_text("#ra;dec;delta\n1.5;2.5;10\n\n3.0;;20\n")
    q = files.load_query_file(str(p))
    assert q == [
        {"ra": "1.5", "dec": "2.5", "delta": "10"},
        {"ra": "3.0", "dec": None, "delta": "20"},
    ]
    p2 = tmp_path / "queries_out.txt"
    files.save_query_file(q, str(p2))
    assert p2.read_text() == "#ra;dec;delta\n1.5;2.5;10\n3.0;;20\n"


def test_fits_codec_round_trip():
    time = np.array([1.0, 2.5, 3.25], dtype=np.float32)
    mag = np.array([10.0, 10.5, 11.0], dtype=np.float32)
    err = np.array([0.1, 0.2, 0.3], dtype=np.float32)
    header = {
        "IDENT": "star_42",
        "RA": 123.456,
        "DEC": -45.5,
        "CLASS": "quasar",
        "macho_name": "1.4418.1930",
        "b_mag": 17.25,
    }
    payload = fits.write_star_fits(
        header, [{"band": "B", "time": time, "mag": mag, "err": err}]
    )
    assert len(payload) % fits.BLOCK == 0
    hdr, curves = fits.read_star_fits(payload)
    assert hdr["IDENT"] == "star_42"
    assert hdr["RA"] == pytest.approx(123.456)
    assert hdr["CLASS"] == "quasar"
    assert hdr["macho_name"] == "1.4418.1930"  # HIERARCH long keyword
    assert hdr["b_mag"] == pytest.approx(17.25)
    (c,) = curves
    assert c["band"] == "B"
    np.testing.assert_allclose(c["time"], time)
    np.testing.assert_allclose(c["mag"], mag)
    np.testing.assert_allclose(c["err"], err)


def test_fits_skips_image_extension_data():
    """A non-BINTABLE HDU (e.g. IMAGE) between extensions must be skipped
    *including its data blocks* — otherwise the next header parse reads
    raw pixel bytes as cards and yields garbage curves."""
    time = np.array([1.0, 2.0], dtype=np.float32)
    mag = np.array([10.0, 11.0], dtype=np.float32)
    payload = fits.write_star_fits(
        {"IDENT": "s1"}, [{"band": "V", "time": time, "mag": mag}]
    )
    # splice a 10×10 float32 IMAGE extension between primary and BINTABLE
    img_cards = [
        fits._card("XTENSION", "IMAGE", "image extension"),
        fits._card("BITPIX", -32),
        fits._card("NAXIS", 2),
        fits._card("NAXIS1", 10),
        fits._card("NAXIS2", 10),
        fits._card("PCOUNT", 0),
        fits._card("GCOUNT", 1),
        b"END".ljust(fits.CARD),
    ]
    img_head = b"".join(img_cards)
    img_head = img_head.ljust(
        (len(img_head) + fits.BLOCK - 1) // fits.BLOCK * fits.BLOCK
    )
    img_data = np.arange(100, dtype=">f4").tobytes()
    img_data = img_data.ljust(
        (len(img_data) + fits.BLOCK - 1) // fits.BLOCK * fits.BLOCK, b"\x00"
    )
    spliced = payload[: fits.BLOCK] + img_head + img_data + payload[fits.BLOCK :]
    hdr, curves = fits.read_star_fits(spliced)
    assert hdr["IDENT"] == "s1"
    (c,) = curves
    assert c["band"] == "V"
    np.testing.assert_allclose(c["time"], time)
    np.testing.assert_allclose(c["mag"], mag)


def test_fits_spark_round_trip(spark, tmp_path):
    curves = testdata.curves(spark, SF_SMOKE).filter(F.col("star_id") < 5)
    target = tmp_path / "fits_out"
    fits.save_fits_curves(curves, str(target))
    assert len(list(target.glob("*.fits"))) == 5
    back = fits.load_fits_curves(spark, str(target / "*.fits"))
    stats = (
        back.groupBy("star_id")
        .agg(F.count("*").alias("n"), F.round(F.avg("mag"), 3).alias("m"))
        .collect()
    )
    orig = {
        str(r["star_id"]): r["n"]
        for r in testdata.observations(spark, SF_SMOKE)
        .filter(F.col("star_id") < 5)
        .groupBy("star_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {r["star_id"]: r["n"] for r in stats} == orig
    # float32 storage: means agree to ~1e-3
    orig_means = {
        str(r["star_id"]): r["m"]
        for r in testdata.observations(spark, SF_SMOKE)
        .filter(F.col("star_id") < 5)
        .groupBy("star_id")
        .agg(F.round(F.avg("mag"), 3).alias("m"))
        .collect()
    }
    for r in stats:
        assert r["m"] == pytest.approx(orig_means[r["star_id"]], abs=2e-3)


def test_observations_handles_both_ts_dtypes(spark, tmp_path):
    """observations() must work whether the parquet reader resolves
    events.ts as raw int64 nanoseconds (Spark <=4.0 with nanosAsLong)
    or as timestamp_ntz (4.1+, where the legacy conf is a no-op) —
    the environment shift that broke round 3. Both fixtures encode the
    same instants, so both paths must produce identical t values."""
    import datetime

    epoch_ns = 1_704_067_200_000_000_000
    # whole-microsecond offsets (the generator's contract — see
    # testdata._EPOCH_NS comment): 0.5, 1.25, 2 days
    offsets_ns = [43_200_000_000_000, 108_000_000_000_000, 172_800_000_000_000]
    base_rows = [
        (i, epoch_ns + off, 1, "V", 10.0 + i, "{}")
        for i, off in enumerate(offsets_ns)
    ]

    long_dir = tmp_path / "long_ts"
    ts_dir = tmp_path / "ntz_ts"
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    spark.createDataFrame(base_rows, cols).coalesce(1).write.parquet(
        str(long_dir / "events.parquet")
    )
    ntz_rows = [
        (
            i,
            datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=(epoch_ns + off) // 1000),
            1,
            "V",
            10.0 + i,
            "{}",
        )
        for i, off in enumerate(offsets_ns)
    ]
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string"
    )
    spark.createDataFrame(ntz_rows, schema).coalesce(1).write.parquet(
        str(ts_dir / "events.parquet")
    )

    got_long = sorted(
        r["t"] for r in testdata.observations(spark, str(long_dir)).collect()
    )
    got_ntz = sorted(
        r["t"] for r in testdata.observations(spark, str(ts_dir)).collect()
    )
    expected = [0.5, 1.25, 2.0]
    assert got_long == expected
    assert got_ntz == expected
