"""Property-based invariants (hypothesis): these hold for EVERY grid
configuration, not just the fixtures — the class of guarantee unit
examples can't give.  Examples are kept small and few because every
check runs a Spark job."""

from __future__ import annotations

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import gen_points, new_cube
from xcube_spark.operators.maintenance import normalize_dataset, verify_cube
from xcube_spark.operators.resampling.affine import affine_transform_dataset
from xcube_spark.operators.subsampling import subsample_dataset
from xcube_spark.sources.timeslice import insert_time_slice, replace_time_slice

SETTINGS = dict(max_examples=5, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture])

grids = st.builds(
    CubeGrid,
    width=st.integers(2, 12),
    height=st.integers(2, 8),
    time_periods=st.integers(1, 4),
    x_start=st.sampled_from([-180.0, 0.0]),
    inverse_y=st.booleans(),
    x_res=st.just(10.0),
    y_res=st.just(10.0),
)

VAR = {"v": lambda ns: (ns["t_i"] * 1000 + ns["y_i"] * 100 + ns["x_i"])
       .cast("double")}


@given(grid=grids)
@settings(**SETTINGS)
def test_normalize_preserves_cells(spark, grid):
    """normalize is a pure relabeling: cell count and value checksum
    are invariant, and the result verifies against its new grid."""
    cube = new_cube(spark, grid, VAR)
    out, out_grid = normalize_dataset(cube, grid)
    a = cube.agg(F.count("*"), F.sum("v")).collect()[0]
    b = out.agg(F.count("*"), F.sum("v")).collect()[0]
    assert (a[0], a[1]) == (b[0], b[1])
    assert verify_cube(out, out_grid) == []


@given(grid=grids, k=st.integers(2, 3))
@settings(**SETTINGS)
def test_subsample_partitions_cells(spark, grid, k):
    """k x k blocks partition the plane: per-block counts sum to the
    total and every block mean lies within the global [min, max]."""
    cube = new_cube(spark, grid, VAR)
    out = subsample_dataset(cube.select("t_i", "y_i", "x_i", "v"),
                            factor=k, agg_methods={"v": ("mean",)})
    row = out.agg(F.sum("n"), F.min("v_mean"), F.max("v_mean")).collect()[0]
    lohi = cube.agg(F.min("v"), F.max("v")).collect()[0]
    assert row[0] == grid.size
    assert lohi[0] <= row[1] <= row[2] <= lohi[1]


@given(grid=grids)
@settings(**SETTINGS)
def test_affine_identity(spark, grid):
    """Nearest-resampling a cube onto its own grid returns the same
    values at every cell."""
    cube = new_cube(spark, grid, VAR)
    out = affine_transform_dataset(cube, grid, grid, spline_orders=0)
    diff = out.alias("o").join(
        cube.alias("c"), on=["t_i", "y_i", "x_i"]
    ).where(F.col("o.v") != F.col("c.v"))
    assert diff.count() == 0


@given(grid=grids)
@settings(**SETTINGS)
def test_timeslice_algebra(spark, grid):
    """insert grows the cube by one plane and shifts indices
    contiguously; replace keeps the size fixed."""
    cube = new_cube(spark, grid, VAR)
    plane = grid.width * grid.height
    sl = new_cube(spark, grid, {"v": -1.0}).where(F.col("t_i") == 0)

    ins = insert_time_slice(cube, sl, t_i=0)
    assert ins.count() == grid.size + plane
    tis = [r[0] for r in ins.select("t_i").distinct().orderBy("t_i").collect()]
    assert tis == list(range(grid.time_periods + 1))

    rep = replace_time_slice(cube, sl, t_i=0)
    assert rep.count() == grid.size
    assert rep.where("t_i = 0").agg(F.max("v")).collect()[0][0] == -1.0


@given(grid=grids, n=st.integers(1, 50), seed=st.integers(0, 10))
@settings(**SETTINGS)
def test_gen_points_in_bounds(spark, grid, n, seed):
    """Generated points stay inside the grid bbox and map to valid cell
    indices under the coordinate->index expressions."""
    pts = gen_points(spark, grid, n, seed=seed)
    mapped = pts.select(
        grid.x_index_expr(F.col("lon")).alias("xi"),
        grid.y_index_expr(F.col("lat")).alias("yi"),
    )
    bad = mapped.where(
        F.col("xi").isNull() | F.col("yi").isNull()
        | (F.col("xi") < 0) | (F.col("xi") >= grid.width)
        | (F.col("yi") < 0) | (F.col("yi") >= grid.height)
    )
    assert bad.count() == 0


def test_near_dup_clusters_transitive(spark):
    """A~B, B~C collapse into one cluster even though A~C was never a
    pair; chains longer than one propagation round converge; canonical
    filter keeps exactly one doc per cluster."""
    from pyspark.sql import functions as F

    from xcube_spark.pipeline.dedup import (dedup_keep_canonical,
                                            near_dup_clusters)

    # two components: a 5-chain (1-2-3-4-5) and a pair (10-11)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"])
    clusters = near_dup_clusters(pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 5, 10, 11, 99]],
        ["doc_id", "text"])
    kept = dedup_keep_canonical(docs, clusters)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 10, 99]


def test_train_ivf_centroids(spark):
    """Deterministic Lloyd k-means: two well-separated blobs recover
    their centers; the trained table plugs into knn_ivf."""
    from pyspark.sql import functions as F

    from xcube_spark.pipeline.similarity import (ivf_assign, knn_ivf,
                                                 train_ivf_centroids)

    rows = []
    for i in range(20):  # blob A around (0, 0), blob B around (10, 10)
        rows.append((i, [0.0 + (i % 5) * 0.01, 0.0 + (i % 3) * 0.01]))
        rows.append((100 + i, [10.0 + (i % 5) * 0.01, 10.0 + (i % 3) * 0.01]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_ivf_centroids(emb, k=2, iterations=4)
    got = sorted([r["embedding"] for r in cents.collect()],
                 key=lambda v: v[0])
    assert abs(got[0][0] - 0.02) < 0.05 and abs(got[1][0] - 10.02) < 0.05
    # assignment separates the blobs perfectly
    assigned = ivf_assign(emb, cents)
    cells = assigned.select(
        (F.col("vec_id") < 100).alias("blob"), "cell").distinct()
    assert cells.count() == 2
    # and the index serves queries
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = knn_ivf(emb, q, cents, k=3, n_probe=1)
    assert [r["vec_id"] for r in out.orderBy("rank").collect()][0] < 100


@given(
    max_tokens=st.integers(8, 256),
    n_docs=st.integers(1, 60),
    seed=st.integers(0, 3),
)
@settings(**SETTINGS)
def test_pack_sequences_invariants(spark, max_tokens, n_docs, seed):
    """For ANY corpus/budget: placement is a bijection over docs, every
    sequence starts under budget, and offsets form exact prefix sums
    in id order within (shard, seq)."""
    from xcube_spark.pipeline.curation import pack_sequences

    rows = [(i, " ".join(["w"] * (1 + (i * 7 + seed) % 40)))
            for i in range(n_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, max_tokens=max_tokens, n_shards=4).collect()
    assert sorted(r.doc_id for r in out) == list(range(n_docs))
    groups: dict = {}
    for r in out:
        groups.setdefault((r.shard, r.seq_id), []).append(r)
    for members in groups.values():
        members.sort(key=lambda r: r.doc_id)
        assert members[0].offset < max_tokens
        run = members[0].offset
        for m in members:
            assert m.offset == run
            run += m.n_tokens


@given(
    weights=st.sampled_from([
        {"train": 0.8, "val": 0.1, "test": 0.1},
        {"train": 0.98, "val": 0.01, "test": 0.01},
        {"a": 0.5, "b": 0.5},
    ]),
    n=st.integers(10, 400),
)
@settings(**SETTINGS)
def test_assign_split_partitions_every_doc(spark, weights, n):
    """Splits partition the corpus: every doc gets exactly one split
    drawn from the weight keys, independent of corpus size."""
    from xcube_spark.pipeline.curation import assign_split

    df = spark.createDataFrame(
        [(i, "t") for i in range(n)], "doc_id long, text string")
    out = assign_split(df, weights=weights).collect()
    assert len(out) == n
    assert {r.split for r in out} <= set(weights)


# ---- round-5 pure-python invariants (no Spark session needed) --------


@given(
    p=st.floats(min_value=0.0, max_value=1.0,
                allow_nan=False, allow_infinity=False),
    name=st.sampled_from(["default", "viridis", "gray", "jet",
                          "coolwarm", "viridis_r"]),
)
def test_colormap_interp_in_range_and_endpoints(p, name):
    from xcube_spark.operators.tiles import get_colormap
    from xcube_spark.server import _interp_stops

    stops = get_colormap(name)
    rgb = _interp_stops(stops, p)
    assert all(0 <= c <= 255 for c in rgb)
    assert _interp_stops(stops, 0.0) == stops[0][1]
    assert _interp_stops(stops, 1.0) == stops[-1][1]


@given(data=st.binary(min_size=0, max_size=64))
def test_jwt_verify_rejects_any_tamper(data):
    """Flipping any part of a valid HS256 token must 401 — the
    signature covers header+payload bit-for-bit."""
    import base64
    import hashlib
    import hmac
    import json as _json

    from xcube_spark.server import ApiError, CubeServer

    srv = CubeServer.__new__(CubeServer)
    srv.auth = {"jwt_secret": "s3", "api_keys": []}

    def b64(b):
        return base64.urlsafe_b64encode(b).rstrip(b"=").decode()

    h = b64(_json.dumps({"alg": "HS256"}).encode())
    p = b64(_json.dumps({"scope": ""}).encode())
    sig = b64(hmac.new(b"s3", f"{h}.{p}".encode(),
                       hashlib.sha256).digest())
    token = f"{h}.{p}.{sig}"
    srv._verify_jwt(token, "s3")  # the untampered token verifies

    # splice attacker-controlled bytes into the payload: must fail
    evil = f"{h}.{b64(data)}.{sig}"
    if b64(data) != p:
        import pytest as _pytest

        with _pytest.raises(ApiError):
            srv._verify_jwt(evil, "s3")


@given(
    includes=st.lists(st.sampled_from(["*.py", "*.md", "a*", "*.txt"]),
                      max_size=2),
    excludes=st.lists(st.sampled_from(["junk*", "*.pyc", "b*"]),
                      max_size=2),
)
def test_fileset_filters_are_consistent(tmp_path_factory, includes,
                                        excludes):
    """keys() == the brute-force fnmatch filter over all files, and a
    zip of the set contains exactly those keys."""
    import fnmatch
    import zipfile

    from xcube_spark.pipeline.byoa import FileSet

    root = tmp_path_factory.mktemp("fs")
    names = ["a.py", "b.py", "a.md", "junk.pyc", "notes.txt"]
    for n in names:
        (root / n).write_text("x")
    fs = FileSet(str(root), includes=includes or None,
                 excludes=excludes or None)

    def want(n):
        if includes and not any(fnmatch.fnmatch(n, p) for p in includes):
            return False
        if excludes and any(fnmatch.fnmatch(n, p) for p in excludes):
            return False
        return True

    expect = sorted(n for n in names if want(n))
    assert fs.keys() == expect
    z = fs.to_local_zip()
    if expect:
        with zipfile.ZipFile(z.path) as zf:
            assert sorted(zf.namelist()) == expect


@given(
    vec=st.lists(st.floats(min_value=-100, max_value=100,
                           allow_nan=False, width=32),
                 min_size=1, max_size=16).filter(
                     lambda v: max(abs(x) for x in v) > 1e-6),
)
def test_int8_quantization_bounds(vec):
    """Pure-python twin of emb_quantize_int8's math: codes stay in
    [-127, 127] and reconstruction error is bounded by scale/2."""
    scale = max(abs(x) for x in vec) / 127.0
    codes = [round(x / scale) for x in vec]
    assert all(-127 <= c <= 127 for c in codes)
    assert all(abs(c * scale - x) <= scale / 2 + 1e-9
               for c, x in zip(codes, vec))


@given(n=st.integers(5, 60), cut=st.integers(1, 59),
       seed=st.integers(0, 10_000))
@settings(**SETTINGS)
def test_hll_merge_equals_single_pass(spark, n, cut, seed):
    """For ANY split point, folding the second part into the first
    part's registers is value-identical to the single-pass sketch
    (max-merge associativity/commutativity/idempotence made
    concrete)."""
    from xcube_spark.pipeline.sketches import (hll_estimate, hll_merge,
                                               hll_state)

    cut = min(cut, n - 1) if n > 1 else 0
    rows = [(i, f"v{(i * 2654435761 + seed) % (n * 2)}")
            for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    single = hll_estimate(hll_state(df, "text", p=4), p=4).collect()[0]
    merged = hll_estimate(
        hll_merge(hll_state(df.where(F.col("doc_id") < cut),
                            "text", p=4),
                  df.where(F.col("doc_id") >= cut), "text", p=4),
        p=4).collect()[0]
    assert (single.estimate, single.raw_estimate,
            single.n_zero_registers) == \
        (merged.estimate, merged.raw_estimate, merged.n_zero_registers)


@given(n=st.integers(5, 60), cut=st.integers(1, 59),
       seed=st.integers(0, 10_000))
@settings(**SETTINGS)
def test_cms_merge_equals_single_pass(spark, n, cut, seed):
    """Counter addition: the merged sketch equals the single-pass
    sketch cell-for-cell at every split point."""
    from xcube_spark.pipeline.sketches import cms_build, cms_merge

    cut = min(cut, n - 1) if n > 1 else 0
    rows = [(i, f"g{(i * 11400714819323198485 + seed) % 17}")
            for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, ngram string")
    single = {(r.row, r.pos): r.cnt
              for r in cms_build(df, d=2, w=64).collect()}
    merged = {(r.row, r.pos): r.cnt for r in cms_merge(
        cms_build(df.where(F.col("doc_id") < cut), d=2, w=64),
        df.where(F.col("doc_id") >= cut), d=2, w=64).collect()}
    assert single == merged


@given(n_bench=st.integers(1, 20), n_corpus=st.integers(1, 40),
       seed=st.integers(0, 10_000))
@settings(**SETTINGS)
def test_bloom_never_false_negative(spark, n_bench, n_corpus, seed):
    """Any gram actually inserted into the bitmap must test positive
    — for EVERY random gram set (the defining Bloom guarantee)."""
    from xcube_spark.pipeline.sketches import (_bloom_pos,
                                               bloom_filter_build)

    grams = [(f"w{(i * 2654435761 + seed) % 1000} x{i}",)
             for i in range(n_bench)]
    gdf = spark.createDataFrame(grams, "ngram string")
    bloom = bloom_filter_build(gdf, m_bits=1 << 12, k=3)
    probe = gdf.crossJoin(F.broadcast(bloom))
    hit = F.lit(True)
    for i in range(3):
        pos = _bloom_pos(F.col("ngram"), i, 1 << 12)
        word = F.element_at(F.col("bloom"),
                            ((pos / 64).cast("int") + F.lit(1)))
        mask = F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))"
            .format(p=f"(CAST(conv(substring(md5(concat(ngram, "
                      f"'#bloom{i}')), 1, 15), 16, 10) AS BIGINT)"
                      f" % {1 << 12})"))
        hit = hit & (word.bitwiseAND(mask) != 0)
    assert probe.where(~hit).count() == 0


@given(
    lon=st.floats(min_value=-179.9, max_value=179.9),
    lat=st.floats(min_value=-85.0, max_value=85.0),
)
@settings(max_examples=60, deadline=None)
def test_goode_homolosine_roundtrip_property(lon, lat):
    """Property: interrupted-Goode forward -> inverse is the identity
    (< 1e-8 deg) for any point NOT on a zone boundary — checked with
    the pure-Python mirror of the Column math (same constants, same
    Newton count), so hypothesis can sweep thousands of points
    without a Spark job per example.  Latitude is bounded to +-85:
    above that the fixed 8-step Mollweide Newton converges only
    linearly (the 2t + sin 2t derivative vanishes at the pole,
    ~9e-6 deg residual at 89) — inherent to the family, identical in
    engine and oracle, and outside every gate grid (|y|/R <= 1.314
    ~ 82.7 deg)."""
    import math

    from xcube_spark.operators.resampling.reproject import (
        _IGH_DY, _IGH_PHIB, IGH_PARAMS)

    r = IGH_PARAMS["PROJ:IGH"]
    phib = math.degrees(_IGH_PHIB)
    # stay off the zone boundaries (the piecewise CASE edges)
    for edge in (-180.0, 180.0):
        assume(abs(lon - edge) > 1e-3)
    if lat >= 0:
        assume(abs(lon - -40.0) > 1e-3)
    else:
        for edge in (-100.0, -20.0, 80.0):
            assume(abs(lon - edge) > 1e-3)
    assume(abs(abs(lat) - phib) > 1e-3)
    assume(abs(lat) > 1e-3)

    lam, phi = math.radians(lon), math.radians(lat)
    if lat >= 0:
        lamc = math.radians(-100.0 if lon <= -40.0 else 30.0)
    elif lon <= -100.0:
        lamc = math.radians(-160.0)
    elif lon <= -20.0:
        lamc = math.radians(-60.0)
    elif lon <= 80.0:
        lamc = math.radians(20.0)
    else:
        lamc = math.radians(140.0)
    if abs(phi) >= _IGH_PHIB:
        t, sp = phi, math.sin(phi)
        for _ in range(8):
            den = 2.0 + 2.0 * math.cos(2.0 * t)
            if abs(den) < 1e-12:
                break
            t -= (2.0 * t + math.sin(2.0 * t) - math.pi * sp) / den
        x = r * (lamc + 2.0 * math.sqrt(2.0) / math.pi
                 * (lam - lamc) * math.cos(t))
        y = r * (math.sqrt(2.0) * math.sin(t)
                 - (_IGH_DY if phi >= 0 else -_IGH_DY))
    else:
        x = r * (lamc + (lam - lamc) * math.cos(phi))
        y = r * phi

    # inverse (mirror of _igh_inverse)
    xn, yn = x / r, y / r
    if yn >= 0:
        lamc2 = math.radians(-100.0 if xn <= -_IGH_D40() else 30.0)
    elif xn <= -math.radians(100.0):
        lamc2 = math.radians(-160.0)
    elif xn <= -math.radians(20.0):
        lamc2 = math.radians(-60.0)
    elif xn <= math.radians(80.0):
        lamc2 = math.radians(20.0)
    else:
        lamc2 = math.radians(140.0)
    if yn >= _IGH_PHIB or yn < -_IGH_PHIB:
        t2 = math.asin((abs(yn) + _IGH_DY) / math.sqrt(2.0))
        sgn = -1.0 if yn < 0 else 1.0
        phi2 = sgn * math.asin(
            (2.0 * t2 + math.sin(2.0 * t2)) / math.pi)
        lam2 = lamc2 + (xn - lamc2) * math.pi \
            / (2.0 * math.sqrt(2.0) * math.cos(t2))
    else:
        phi2 = yn
        lam2 = lamc2 + (xn - lamc2) / math.cos(yn)
    assert abs(math.degrees(lam2) - lon) < 1e-8
    assert abs(math.degrees(phi2) - lat) < 1e-8


def _IGH_D40():
    import math
    return math.radians(40.0)
