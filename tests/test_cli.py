"""CLI smoke: create_project → prepare_query → make_filter →
filter_stars driven purely from argv (mirrors the reference's documented
workflow, lcc/cli/lcc.py + bin/*.py). Light-curve fixtures are written
from the driver testdata so the shapes match the engine's own samples."""

import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from lightcurvesclassifier_spark.cli import lcc as cli, stars_io
from lightcurvesclassifier_spark.sources import files, testdata
from tests.conftest import SF_SMOKE, job_count


@pytest.fixture(scope="module")
def project(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cliproj")
    rc = cli.main(["create_project", "proj", str(root)], path=str(root))
    assert rc == 0
    proj = str(root / "proj")

    # two labelled samples: variable-looking vs flat curves, as dat files
    obs = testdata.observations(spark, SF_SMOKE).filter(F.col("band") == "view")
    searched_dir = os.path.join(proj, "inp_lcs", "searched")
    contam_dir = os.path.join(proj, "inp_lcs", "contam")
    os.makedirs(searched_dir, exist_ok=True)
    os.makedirs(contam_dir, exist_ok=True)
    files.save_dat_curves(obs, searched_dir)
    # smooth monotone trends → low Abbe value, separable from the noisy
    # originals (abbe ≈ 1.2 on the testdata curves)
    flat = obs.select(
        F.concat(F.lit("flat"), F.col("star_id")).alias("star_id"),
        "t",
        (10.0 + F.col("t") * 0.01).alias("mag"),
        "err",
    )
    files.save_dat_curves(flat, contam_dir)
    return proj


def test_create_project_tree(project):
    for d in ("inp_lcs", "tun_params", "queries", "filters", "query_results"):
        assert os.path.isdir(os.path.join(project, d))
    assert os.path.isfile(os.path.join(project, "project_settings.py"))


def test_prepare_query_cartesian(project):
    rc = cli.main(
        [
            "prepare_query",
            "-o", "tune.txt",
            "-p", "VariogramSlopeDescr:bins",
            "-r", "10,20",
            "-f", "t",
        ],
        path=project,
    )
    assert rc == 0
    lines = open(os.path.join(project, "tun_params", "tune.txt")).read().splitlines()
    assert lines[0] == "#VariogramSlopeDescr:bins"
    assert lines[1:] == ["10", "20"]


def test_prepare_query_range_grammar(project):
    rc = cli.main(
        [
            "prepare_query",
            "-o", "q.txt",
            "-p", "starid", "-r", "5:12:3",
            "-p", "target", "-r", "lmc,smc",
            "-f", "q",
        ],
        path=project,
    )
    assert rc == 0
    lines = open(os.path.join(project, "queries", "q.txt")).read().splitlines()
    # reference example (prepare_query.py:37-55): cartesian product
    assert lines[0] == "#starid;target"
    assert len(lines) == 1 + 3 * 2
    assert lines[1] == "5;lmc"


@pytest.fixture(scope="module")
def smoke_filter(project):
    """Train ``SmokeFilter`` once per module, so every test that filters
    with it also runs alone; returns its directory."""
    # self-contained: (re)generate the tuning file
    assert cli.main(
        ["prepare_query", "-o", "tune.txt",
         "-p", "VariogramSlopeDescr:bins", "-r", "10,20", "-f", "t"],
        path=project,
    ) == 0
    rc = cli.main(
        [
            "make_filter",
            "-i", "tune.txt",
            "-n", "SmokeFilter",
            "-f", "AbbeValueDescr",
            "-s", "searched",
            "-c", "contam",
            "-d", "GaussianNBDec",
        ],
        path=project,
    )
    assert rc == 0
    return os.path.join(project, "filters", "SmokeFilter")


def test_make_filter_then_filter_stars(project, smoke_filter):
    fdir = smoke_filter
    # a saved filter is a directory artifact with a JSON manifest
    assert os.path.isfile(
        os.path.join(fdir, "SmokeFilter.filter", "filter.json")
    )
    assert os.path.isfile(os.path.join(fdir, "ROC_data.dat"))
    assert os.path.isfile(os.path.join(fdir, "stats.dat"))
    assert open(os.path.join(fdir, "ROC_data.dat")).readline() == "#fp\ttp\n"
    coords = open(os.path.join(fdir, "searched_coords.dat")).read().splitlines()
    assert coords[0].startswith("#") and len(coords) > 1

    # query file pointing FileManager at both folders
    qfile = os.path.join(project, "queries", "search.txt")
    with open(qfile, "w") as f:
        f.write("#path\nsearched\ncontam\n")

    rc = cli.main(
        [
            "filter_stars",
            "-r", "run1",
            "-q", "search.txt",
            "-d", "FileManager",
            "-f", "SmokeFilter",
        ],
        path=project,
    )
    assert rc == 0
    run_dir = os.path.join(project, "query_results", "run1")
    status = open(os.path.join(run_dir, "query_status.txt")).read().splitlines()
    assert status[0] == "#query_id;star_id;found;passed"
    assert len(status) > 1
    # the variable (searched-like) stars pass, the flat contaminants don't
    passed = [l for l in status[1:] if l.endswith(";True")]
    flat_passed = [l for l in passed if ";flat" in l]
    assert passed and not flat_passed
    # passed stars' curves written as dat files
    lcs = os.listdir(os.path.join(run_dir, "lcs"))
    assert len(lcs) == len(passed)
    assert os.path.isfile(os.path.join(run_dir, "coords.dat"))


@pytest.mark.parametrize(
    "ratio", ["0:0", "1", "1:0", "0:1", "3:1:1", "a:1", "2:-1", "²:1"]
)
def test_make_filter_rejects_bad_split_before_spark(project, monkeypatch, ratio):
    """-p must be two positive integers: '0:0' divided by zero, '1' and
    '1:0' gave an empty test fold (every precision None, the first combo
    saved silently), '0:1' trained on nothing. Rejected while parsing,
    before a Spark session starts."""
    from lightcurvesclassifier_spark import session

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark started before -p was validated")

    monkeypatch.setattr(session, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        cli.main(
            ["make_filter", "-i", "tune.txt", "-n", "BadSplit",
             "-f", "AbbeValueDescr", "-s", "searched", "-c", "contam",
             "-d", "GaussianNBDec", "-p", ratio],
            path=project,
        )
    assert exc.value.code == 2


def test_make_filter_combo_decider_params_reach_saved_filter(project):
    """A tuning file varying a decider parameter trains one filter per
    row; the saved filter and descr_params.json are the row with the
    highest precision (the first such row on a tie)."""
    import json

    with open(os.path.join(project, "tun_params", "thr.txt"), "w") as f:
        # threshold 0.0 passes every star: precision is the searched share
        f.write("#GaussianNBDec:threshold\n0.0\n0.5\n")
    assert cli.main(
        ["make_filter", "-i", "thr.txt", "-n", "ThrFilter",
         "-f", "AbbeValueDescr", "-s", "searched", "-c", "contam",
         "-d", "GaussianNBDec"],
        path=project,
    ) == 0
    fdir = os.path.join(project, "filters", "ThrFilter")
    lines = open(os.path.join(fdir, "stats.dat")).read().splitlines()
    header = lines[0].lstrip("#").split("\t")
    precisions = [
        float(row.split("\t")[header.index("precision")]) for row in lines[1:]
    ]
    assert len(precisions) == 2  # one row per combo
    threshold = [0.0, 0.5][precisions.index(max(precisions))]
    assert threshold == 0.5  # the all-pass row loses
    manifest = json.load(
        open(os.path.join(fdir, "ThrFilter.filter", "filter.json"))
    )
    assert [d["threshold"] for d in manifest["deciders"]] == [threshold]
    descr = json.load(open(os.path.join(fdir, "descr_params.json")))
    assert descr == {
        "descriptors": ["AbbeValueDescr"],
        "params": {"GaussianNBDec": {"threshold": threshold}},
    }


def test_unknown_command_errors(project, capsys):
    assert cli.main(["bogus"], path=project) == 2


def test_plot_lcs(project, tmp_path):
    out = tmp_path / "imgs"
    rc = cli.main(
        [
            "plot_lcs",
            "-p", os.path.join(project, "inp_lcs", "searched"),
            "-o", str(out),
        ],
        path=project,
    )
    assert rc == 0
    arts = os.listdir(out)
    # matplotlib absent in this container → plot-data artifacts; with
    # matplotlib present the same path writes PNGs
    assert arts and all(a.endswith((".png", ".plot.dat")) for a in arts)


@pytest.mark.usefixtures("smoke_filter")
def test_filter_stars_overlapping_queries(project):
    """A star matched by several query rows must not duplicate its
    observations (feature skew: doubled curve_density, halved abbe
    diffs) nor its ledger/(lcs) artifacts — one feature row per star,
    one ledger row per (query, star), single-copy dat files."""
    qfile = os.path.join(project, "queries", "overlap.txt")
    with open(qfile, "w") as f:
        f.write("#path\nsearched\nsearched\n")
    rc = cli.main(
        [
            "filter_stars",
            "-r", "run_overlap",
            "-q", "overlap.txt",
            "-d", "FileManager",
            "-f", "SmokeFilter",
        ],
        path=project,
    )
    assert rc == 0
    run_dir = os.path.join(project, "query_results", "run_overlap")
    status = open(os.path.join(run_dir, "query_status.txt")).read().splitlines()
    body = status[1:]
    # one row per (query, star): both queries see every star, no dups
    assert len(body) == len(set(body))
    stars = {l.split(";")[1] for l in body}
    assert len(body) == 2 * len(stars)
    # passed stars identical under both queries (star-level decision)
    passed_by_q = {}
    for l in body:
        q, s, _, p = l.split(";")
        passed_by_q.setdefault(q, set())
        if p == "True":
            passed_by_q[q].add(s)
    assert passed_by_q["0"] == passed_by_q["1"]
    # coords.dat: one line per found star, not one per (query, star)
    coords = open(os.path.join(run_dir, "coords.dat")).read().splitlines()[1:]
    coord_ids = [l.split("\t")[0] for l in coords]
    assert sorted(coord_ids) == sorted(stars)
    # single-copy dat files: same content as the source curve
    lcs_dir = os.path.join(run_dir, "lcs")
    a_star = sorted(passed_by_q["0"])[0]
    out_lines = open(os.path.join(lcs_dir, f"{a_star}.dat")).read().splitlines()
    src_lines = (
        open(os.path.join(project, "inp_lcs", "searched", f"{a_star}.dat"))
        .read()
        .splitlines()
    )
    assert len(out_lines) == len(src_lines)


def _filter_run(project, run, qname):
    """Run ``filter_stars`` with SmokeFilter; return its run directory."""
    rc = cli.main(
        ["filter_stars", "-r", run, "-q", qname, "-d", "FileManager",
         "-f", "SmokeFilter"],
        path=project,
    )
    assert rc == 0
    return os.path.join(project, "query_results", run)


def _status(run_dir):
    """``query_status.txt`` as {(query_id, star_id): passed}."""
    lines = open(os.path.join(run_dir, "query_status.txt")).read().splitlines()[1:]
    return {tuple(l.split(";")[:2]): l.endswith(";True") for l in lines}


@pytest.mark.usefixtures("smoke_filter")
def test_filter_stars_two_filters_pass_both(project, spark):
    """With two ``-f`` filters a star passes where both single-filter
    runs pass it: SmokeFilter (GaussianNB on abbe) and a CustomDecider
    filter cutting curve_density at the searched stars' median."""
    from lightcurvesclassifier_spark.cli import descriptors as descr_registry
    from lightcurvesclassifier_spark.ml.deciders import make_decider
    from lightcurvesclassifier_spark.ml.persistence import save_filter
    from lightcurvesclassifier_spark.ml.stars_filter import StarsFilter

    obs = files.load_dat_curves(spark, os.path.join(project, "inp_lcs", "searched"))
    feats, _ = descr_registry.featurize(obs, ["CurveDensityDescr"])
    dens = sorted(r.curve_density for r in feats.collect() if r.curve_density is not None)
    dec = make_decider("CustomDecider", ranges={"curve_density": (None, dens[len(dens) // 2])})
    filt = StarsFilter([dec], ["curve_density"])
    filt.learned = True
    save_filter(filt, os.path.join(project, "filters", "Dense", "Dense.filter"))
    with open(os.path.join(project, "queries", "search.txt"), "w") as f:
        f.write("#path\nsearched\ncontam\n")

    runs = {}
    for run, names in (("f_smoke", ["SmokeFilter"]), ("f_dense", ["Dense"]),
                       ("f_both", ["SmokeFilter", "Dense"])):
        argv = ["filter_stars", "-r", run, "-q", "search.txt", "-d", "FileManager"]
        assert cli.main(argv + [a for n in names for a in ("-f", n)], path=project) == 0
        runs[run] = _status(os.path.join(project, "query_results", run))
    smoke, dense, both = runs["f_smoke"], runs["f_dense"], runs["f_both"]
    assert smoke.keys() == dense.keys() == both.keys()
    assert both == {k: smoke[k] and dense[k] for k in both}
    assert 0 < sum(both.values()) < sum(smoke.values())


@pytest.mark.usefixtures("smoke_filter")
def test_filter_stars_warm_run_jobs(project, spark):
    """A rerun in a warm session launches 14 Spark jobs, as many as the
    first run: a run unpersists what it cached, so it computes its
    curves, features and decisions again, writes the curves, commits and
    collects the published ledger once. The query file is read on the
    driver, with no job."""
    with open(os.path.join(project, "queries", "search.txt"), "w") as f:
        f.write("#path\nsearched\ncontam\n")
    _filter_run(project, "run_jobs", "search.txt")
    n = job_count(
        spark, "filter-stars-warm", lambda: _filter_run(project, "run_jobs", "search.txt")
    )
    assert n == 14


@pytest.fixture(scope="module")
def empty_query(project):
    """A query file whose second row names a folder holding one
    comment-only ``.dat``: that query yields no observations."""
    empty_dir = os.path.join(project, "inp_lcs", "empty")
    os.makedirs(empty_dir, exist_ok=True)
    with open(os.path.join(empty_dir, "nothing.dat"), "w") as f:
        f.write("# time mag err\n")
    with open(os.path.join(project, "queries", "with_empty.txt"), "w") as f:
        f.write("#path\nsearched\nempty\n")
    return "with_empty.txt"


@pytest.mark.usefixtures("smoke_filter")
def test_filter_stars_empty_query_gets_row(project, empty_query):
    """A query that found no star is logged as found=false with an empty
    star_id field, like the searcher's no-match stub."""
    run_dir = _filter_run(project, "run_empty", empty_query)
    status = open(os.path.join(run_dir, "query_status.txt")).read().splitlines()
    assert status[-1] == "1;;False;False"
    assert len(status) > 2 and all(l.startswith("0;") for l in status[1:-1])


@pytest.mark.usefixtures("smoke_filter")
def test_filter_stars_crash_replays_to_clean_run(
    project, empty_query, spark, monkeypatch
):
    """Crash the commit at the ledger publish (after the curves and the
    passed store are written) and rerun the same run: every artifact must
    equal a clean run's, and the published ledger must hold exactly the
    rows of ``query_status.txt``."""
    from lightcurvesclassifier_spark.operators import searcher

    clean = _filter_run(project, "run_clean", empty_query)
    publish, calls = searcher._publish, []

    def crashing(*args):
        calls.append(args)
        if len(calls) == 2:
            raise RuntimeError("injected crash")
        publish(*args)

    monkeypatch.setattr(searcher, "_publish", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        _filter_run(project, "runC", empty_query)
    monkeypatch.setattr(searcher, "_publish", publish)
    run_dir = _filter_run(project, "runC", empty_query)

    def read(d, name):
        return open(os.path.join(d, name)).read()

    for name in ("query_status.txt", "coords.dat"):
        assert read(run_dir, name) == read(clean, name)
    lcs = sorted(os.listdir(os.path.join(run_dir, "lcs")))
    assert lcs and lcs == sorted(os.listdir(os.path.join(clean, "lcs")))

    body = read(run_dir, "query_status.txt").splitlines()[1:]
    ledger = spark.read.parquet(os.path.join(run_dir, "ledger")).collect()
    rows = [
        f"{r.query_id};{'' if r.star_id is None else r.star_id};{r.found};{r.passed}"
        for r in ledger
    ]
    assert sorted(rows) == sorted(body)
    passed = spark.read.parquet(os.path.join(run_dir, "passed"))
    assert passed.count() == sum(l.endswith(";True") for l in body)


@pytest.mark.usefixtures("smoke_filter")
def _persisted(spark) -> int:
    """The number of RDDs persisted now; getPersistentRDDs() returns a
    snapshot, so each count reads a new one."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.mark.usefixtures("smoke_filter")
def test_filter_stars_unpersists_its_frames(project, empty_query, spark, monkeypatch):
    """A run caches its star→query pairs, observations and decisions;
    none of them may outlive the run, also when its commit fails."""
    from lightcurvesclassifier_spark.operators import searcher

    before = _persisted(spark)
    _filter_run(project, "run_cache", empty_query)
    assert _persisted(spark) == before

    def crashing(*args):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(searcher, "_publish", crashing)
    with pytest.raises(RuntimeError, match="injected crash"):
        _filter_run(project, "run_cache", empty_query)
    assert _persisted(spark) == before


def test_make_filter_unpersists_its_frames(project, spark):
    """A tuning run caches its two samples and the winner's test folds;
    none of them may outlive the run, also when it fails on an empty
    parameters file, which is read after the samples are cached."""
    before = _persisted(spark)
    args = ["-n", "CacheFilter", "-f", "AbbeValueDescr", "-s", "searched",
            "-c", "contam", "-d", "GaussianNBDec"]
    for name, text in (("one.txt", "0.5\n"), ("none.txt", "")):
        with open(os.path.join(project, "tun_params", name), "w") as f:
            f.write("#GaussianNBDec:threshold\n" + text)
    assert cli.main(["make_filter", "-i", "one.txt", *args], path=project) == 0
    assert _persisted(spark) == before
    with pytest.raises(ValueError, match="Empty parameters file"):
        cli.main(["make_filter", "-i", "none.txt", *args], path=project)
    assert _persisted(spark) == before
    # that run failed before materializing its cached samples: ask the
    # cache manager about the same plan instead
    sample = stars_io.load_specs(
        spark, ["searched"], os.path.join(project, "inp_lcs"),
        os.path.join(project, "queries"),
    )
    assert sample.storageLevel == StorageLevel.NONE


def test_query_file_custom_delimiter_round_trip(project):
    """prepare_query honors -d; load_query_file must sniff the
    delimiter instead of collapsing a ','-written file into one
    column."""
    rc = cli.main(
        [
            "prepare_query",
            "-o", "qcomma.txt",
            "-p", "a", "-r", "1:3",
            "-p", "b", "-r", "x,y",
            "-f", "q",
            "-d", ",",
        ],
        path=project,
    )
    assert rc == 0
    rows = files.load_query_file(os.path.join(project, "queries", "qcomma.txt"))
    assert [list(r) for r in rows] == [["a", "b"]] * 4


def test_query_value_coercion():
    """Query-file strings must reach the remote predicate builders as
    numbers ('10' / 3600.0 raised; '9.0' compiled to string ADQL)."""
    from lightcurvesclassifier_spark.cli.stars_io import coerce_query_values

    out = coerce_query_values(
        [{"ra": "297.8", "dec": "46.5", "delta": "10", "target": "lmc"}]
    )[0]
    assert out == {"ra": 297.8, "dec": 46.5, "delta": 10, "target": "lmc"}
    assert isinstance(out["delta"], int)


def test_text_lc_response_parses_to_obs():
    """LC endpoints (Asas CGI / Macho Vgraph) answer plain text, not
    TAP JSON — the transport's fallback parser must yield obs dicts."""
    from lightcurvesclassifier_spark.cli.stars_io import _parse_text_obs

    body = (
        "# HJD mag err\n"
        "<!-- html noise -->\n"
        "2450001.5 14.23 0.05\n"
        "2450002.5 14.31 0.04\n"
        "bad line\n"
        "2450003.5 14.19\n"
    )
    obs = _parse_text_obs(body)
    assert [o["t"] for o in obs] == [2450001.5, 2450002.5, 2450003.5]
    assert obs[0]["err"] == 0.05 and obs[2]["err"] is None


def test_featurize_single_band_and_shared_pass(spark):
    """Multi-band curves must not interleave into one pseudo-curve
    (abbe's successive diffs would measure B−R color), and shared-
    family descriptors must come from ONE aggregation."""
    from lightcurvesclassifier_spark.cli import descriptors as dr

    b = [(1, "B", float(t), 10.0 + 0.001 * t) for t in range(40)]
    r = [(1, "R", float(t) + 0.01, 15.0 + (t % 2)) for t in range(40)]
    obs = spark.createDataFrame(
        b + r, "star_id long, band string, t double, mag double"
    )
    feats, cols = dr.featurize(
        obs, ["AbbeValueDescr", "CurveDensityDescr"], {}
    )
    row = feats.collect()[0]
    assert cols == ["abbe", "curve_density"]
    # B-band only: a smooth trend → tiny abbe; interleaved B+R would
    # alternate ±5 mag and drive abbe toward ~2
    assert row.abbe < 0.2, row
    only_b = dr.featurize(
        obs.filter(F.col("band") == "B").drop("band"),
        ["AbbeValueDescr"],
        {},
    )[0].collect()[0]
    assert abs(row.abbe - only_b.abbe) < 1e-12


def test_filter_stars_unresolved_feature_guard(project, spark, tmp_path):
    """A filter needing a mix of resolvable and unresolvable features
    must fail with the clear message, not an AnalysisException later."""
    from lightcurvesclassifier_spark.cli import filter_stars as fs
    from lightcurvesclassifier_spark.ml.deciders import make_decider
    from lightcurvesclassifier_spark.ml.persistence import save_filter
    from lightcurvesclassifier_spark.ml.stars_filter import StarsFilter

    class Settings:
        QUERIES = os.path.join(project, "queries")
        FILTERS = str(tmp_path)
        RESULTS = os.path.join(project, "query_results")
        INP_LCS = os.path.join(project, "inp_lcs")

    dec = make_decider("CustomDecider", ranges={"abbe": (None, 0.95)})
    filt = StarsFilter([dec], ["abbe", "cmp_distance"])
    filt.learned = True
    os.makedirs(os.path.join(tmp_path, "Mixed"), exist_ok=True)
    save_filter(filt, os.path.join(tmp_path, "Mixed", "Mixed.filter"))
    with open(os.path.join(Settings.QUERIES, "one.txt"), "w") as f:
        f.write("#path\nsearched\n")
    with pytest.raises(ValueError, match="cmp_distance"):
        fs.main(
            Settings,
            ["-r", "runx", "-q", "one.txt", "-d", "FileManager",
             "-f", "Mixed"],
        )
