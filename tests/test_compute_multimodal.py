"""compute_dataset (applyInPandas user functions) and multimodal
pipeline tests (payload plumbing, byte features, fake decode, frame
sampling)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from xcube_spark.cube.grid import CubeGrid
from xcube_spark.cube.new import new_cube
from xcube_spark.operators.compute import align_cubes, compute_dataset
from xcube_spark.pipeline.multimodal import (
    attach_payload,
    byte_histogram,
    decode_image,
    sample_frames,
)

GRID = CubeGrid(width=8, height=4, time_periods=2, x_res=45.0, y_res=45.0,
                chunks=(1, 2, 4))


def test_compute_dataset_single(spark):
    cube = new_cube(spark, GRID, {"v": lambda ns: ns["x_i"].cast("double")})

    def double_plus(v, coords):
        assert "y_i" in coords
        return v * 2.0 + 1.0

    out = compute_dataset(double_plus, cube, grid=GRID, var_name="w",
                          input_var_names=["v"])
    rows = out.where("t_i = 0 AND y_i = 0").orderBy("x_i").collect()
    assert [r["w"] for r in rows] == [1.0, 3.0, 5.0, 7.0, 9.0, 11.0, 13.0, 15.0]


def test_compute_dataset_multi_cube(spark):
    a = new_cube(spark, GRID, {"a": lambda ns: ns["x_i"].cast("double")})
    b = new_cube(spark, GRID, {"b": lambda ns: ns["y_i"].cast("double")})

    def add(a_arr, b_arr, coords):
        return a_arr + b_arr

    out = compute_dataset(add, a, b, grid=GRID, var_name="s",
                          input_var_names=["a", "b"])
    assert out.count() == GRID.size
    r = out.where("t_i = 1 AND y_i = 3 AND x_i = 5").collect()[0]
    assert r["s"] == 8.0


def test_compute_dataset_params(spark):
    cube = new_cube(spark, GRID, {"v": 1.0})

    def scale(v, coords, factor=1.0):
        return v * factor

    out = compute_dataset(scale, cube, grid=GRID, var_name="w",
                          input_var_names=["v"],
                          input_params={"factor": 10.0})
    assert out.agg(F.sum("w")).collect()[0][0] == 10.0 * GRID.size


def test_align_cubes_inner(spark):
    a = new_cube(spark, GRID, {"a": 1.0})
    b = new_cube(spark, GRID, {"b": 2.0}).where(F.col("t_i") == 0)
    out = align_cubes(a, b)
    assert out.count() == GRID.size // 2
    assert set(out.columns) >= {"a", "b", "time", "y", "x"}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "abc"), (3, "x" * 1000)],
        "doc_id long, text string",
    )


def test_attach_payload_meta(spark, docs):
    mm = attach_payload(docs)
    r = {x["doc_id"]: x for x in mm.select("doc_id", "meta.*").collect()}
    assert r[1]["byte_len"] == 11
    assert r[3]["byte_len"] == 1000
    assert len(r[2]["digest"]) == 32


def test_byte_histogram(spark, docs):
    mm = attach_payload(docs)
    hist = {r["doc_id"]: r["hist"] for r in byte_histogram(mm).collect()}
    # "abc" = 0x61,0x62,0x63 -> all in bin 6
    assert hist[2][6] == 3 and sum(hist[2]) == 3
    # "hello world": 10 letters in bin 6/7 + 1 space in bin 2
    assert hist[1][2] == 1 and sum(hist[1]) == 11


def test_decode_image_fake_and_gate(spark, docs):
    mm = attach_payload(docs)
    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    if not have_pil:
        # non-PNG payloads still need PIL; the raise surfaces at
        # action time (PNG-ness is a per-payload property)
        with pytest.raises(Exception, match="non-PNG image decoding"):
            decode_image(mm).collect()
    out = {r["doc_id"]: r for r in decode_image(mm, fake=True).collect()}
    assert out[2]["width"] == 3 % 64 + 1 and out[2]["channels"] == 3
    assert out[2]["mean_byte"] == pytest.approx((0x61 + 0x62 + 0x63) / 3)


def test_decode_image_real_png_no_pil(spark, docs):
    """PNG payloads decode for REAL without PIL: text bytes ->
    encode_payload_png (from-scratch encoder, adaptive filters) ->
    decode_image (from-scratch decoder) recovers exact dimensions and
    the exact padded-pixel mean."""
    from xcube_spark.pipeline.multimodal import encode_payload_png

    mm = encode_payload_png(attach_payload(docs), width=8, pad_byte=32)
    out = {r["doc_id"]: r for r in decode_image(mm).collect()}
    # doc 2 = "abc": 1 row of 8, padded with 5 spaces
    assert out[2]["width"] == 8 and out[2]["height"] == 1
    assert out[2]["channels"] == 1
    expect = (0x61 + 0x62 + 0x63 + 5 * 32) / 8
    assert out[2]["mean_byte"] == pytest.approx(expect)
    # doc 3 = 1000 bytes -> 125 rows, no padding
    assert out[3]["height"] == 125 and out[3]["width"] == 8


def test_sample_frames(spark, docs):
    mm = attach_payload(docs)
    frames = sample_frames(mm, frame_bytes=256, every_n=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    # 1000 bytes -> 4 frames -> keep idx 0, 2
    assert sorted(by_doc[3]) == [0, 2]
    assert by_doc[1] == [0]


# ---- compute-op registry (pipeline/ops.py) -----------------------------


def test_op_registry_schema_and_invoke(spark):
    """@operation/@op_param derive a JSON schema from the signature,
    validate requests, and dispatch to the DataFrame op."""
    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.pipeline.ops import OP_REGISTRY

    info = OP_REGISTRY.get_op("spatial_subset")
    schema = info.params_schema
    assert schema["properties"]["bbox"]["type"] == "array"
    assert schema["properties"]["bbox"]["title"] == "Bounding box"
    assert "bbox" in schema["required"]

    grid = CubeGrid(width=8, height=4, time_periods=1, x_res=45.0,
                    y_res=45.0)
    cube = new_cube(spark, grid, {"v": 1.0})
    out = OP_REGISTRY.invoke("spatial_subset", cube,
                             {"bbox": [-180.0, -90.0, 0.0, 0.0]})
    assert 0 < out.count() < grid.size

    import pytest as _pytest
    with _pytest.raises(ValueError, match="missing required"):
        OP_REGISTRY.invoke("spatial_subset", cube, {})
    with _pytest.raises(ValueError, match="unknown parameter"):
        OP_REGISTRY.invoke("spatial_subset", cube,
                           {"bbox": [0, 0, 1, 1], "nope": 1})
    with _pytest.raises(KeyError):
        OP_REGISTRY.get_op("never_registered")


def test_op_registry_custom_op(spark):
    from pyspark.sql import DataFrame, functions as F

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.pipeline.ops import OpRegistry, op_param, operation

    reg = OpRegistry()

    @operation(op_registry=reg)
    @op_param("factor", op_registry=reg, description="scale factor")
    def scale_var(dataset: DataFrame, factor: float = 2.0) -> DataFrame:
        """Multiply v by factor."""
        return dataset.withColumn("v", F.col("v") * factor)

    info = reg.get_op("scale_var")
    assert info.params_schema["properties"]["factor"]["default"] == 2.0
    assert info.params_schema["required"] == []
    grid = CubeGrid(width=4, height=2, time_periods=1, x_res=90.0,
                    y_res=90.0)
    out = reg.invoke("scale_var", new_cube(spark, grid, {"v": 3.0}),
                     {"factor": 10.0})
    assert out.select(F.min("v")).first()[0] == 30.0
    # type validation
    import pytest as _pytest
    with _pytest.raises(ValueError, match="must be number"):
        reg.invoke("scale_var", new_cube(spark, grid, {"v": 1.0}),
                   {"factor": "big"})


# ---- gen1 input processors (pipeline/iproc.py) -------------------------


def test_gen1_input_processors(spark):
    """Registry dispatch + the gen1 append loop: default processor
    normalizes, swath processor routes through rectification, slices
    stack along t_i."""
    from pyspark.sql import functions as F

    from xcube_spark.cube.grid import CubeGrid
    from xcube_spark.cube.new import new_cube
    from xcube_spark.pipeline.iproc import (INPUT_PROCESSORS,
                                            find_input_processor,
                                            gen1_process_inputs)

    assert {"default", "swath"} <= set(INPUT_PROCESSORS)
    import pytest as _pytest
    with _pytest.raises(KeyError):
        find_input_processor("sentinel99")

    grid = CubeGrid(width=8, height=4, time_periods=1, x_res=45.0,
                    y_res=45.0)
    s1 = new_cube(spark, grid, {"v": 1.0})
    s2 = new_cube(spark, grid, {"v": 2.0})
    cube = gen1_process_inputs([(s1, grid), (s2, grid)], grid)
    assert cube.count() == 2 * grid.size
    assert cube.where(F.col("t_i") == 1).agg(
        F.min("v")).first()[0] == 2.0

    # swath path: per-pixel coords aligned with the grid -> identity
    sw = s1.withColumns({"lon": F.col("x"), "lat": F.col("y")})
    out = gen1_process_inputs([(sw, grid)], grid, processor="swath",
                              var_names=["v"])
    assert out.where(F.col("v") == 1.0).count() == grid.size


def test_resize_image_nearest(spark, docs):
    """resize_image: real decode -> strided pick -> real re-encode;
    a 4x downscale of the 8-wide text image keeps columns 0 and 4 of
    every 4th row."""
    from xcube_spark.pipeline.multimodal import (
        encode_payload_png, resize_image)
    from xcube_spark.sources.png import decode_png

    mm = encode_payload_png(attach_payload(docs), width=8, pad_byte=32)
    small = {r["doc_id"]: bytes(r["payload"])
             for r in resize_image(mm, factor=4).collect()}
    # doc 3 = 1000 bytes -> 125 rows x 8 -> 32 rows x 2
    pix, info = decode_png(small[3])
    assert (info["height"], info["width"]) == (32, 2)
    # doc 1 = "hello world" (11 bytes + 5 pad) -> 2x8 -> 1x2: "h", "o"
    pix1, _ = decode_png(small[1])
    assert pix1.tolist() == [[ord("h"), ord("o")]]


# ---- perceptual dHash (round-10 third-session addition) ------------------


def test_image_dhash_identical_images_share_hash(spark):
    from pyspark.sql import Row
    from xcube_spark.pipeline.multimodal import (
        attach_payload, encode_payload_png, image_dhash)

    docs = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=3, text="zzzz aaaa zzzz aaaa zzzz aaaa zzzz aaaa whee"),
    ])
    mm = encode_payload_png(attach_payload(docs), width=32, pad_byte=32)
    out = {r["doc_id"]: r["dhash"] for r in image_dhash(mm).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert len(out[1]) == 16
    int(out[1], 16)  # valid hex


def test_image_dhash_gradient_structure(spark):
    """A strictly increasing byte ramp compares 'left < right'
    everywhere -> all comparison bits 0 (v > next is never true)."""
    from pyspark.sql import Row
    from xcube_spark.pipeline.multimodal import (
        attach_payload, encode_payload_png, image_dhash)

    ramp = "".join(chr(33 + i) for i in range(64))  # 2 full rows
    rev = ramp[::-1]
    docs = spark.createDataFrame([Row(doc_id=1, text=ramp),
                                  Row(doc_id=2, text=rev)])
    mm = encode_payload_png(attach_payload(docs), width=32, pad_byte=32)
    out = {r["doc_id"]: r["dhash"] for r in image_dhash(mm).collect()}
    assert out[1] == "0" * 16          # increasing -> no bit set
    assert out[2] == "f" * 16          # decreasing -> every bit set


def test_audio_spectrogram_pure_tone_concentrates_energy(spark):
    """A bin-2 cosine tone must put (almost) all its power in p2."""
    import math
    import numpy as np
    from pyspark.sql import Row
    from xcube_spark.pipeline.multimodal import audio_spectrogram

    n = 160  # 10 full frames
    tone = np.round(1000 * np.cos(
        2 * math.pi * 2 * np.arange(n) / 16)).astype("<i2")
    silence = np.zeros(n, dtype="<i2")
    df = spark.createDataFrame(
        [Row(doc_id=1, payload=bytes(tone.tobytes())),
         Row(doc_id=2, payload=bytes(silence.tobytes()))],
        "doc_id LONG, payload BINARY")
    out = {r["doc_id"]: r for r in audio_spectrogram(df).collect()}
    t = out[1]
    assert t["n_frames"] == 10
    assert t["p2"] > 100 * max(t["p1"], t["p3"], t["p4"])
    s = out[2]
    assert s["p1"] == s["p2"] == s["p3"] == s["p4"] == 0.0


def test_audio_spectrogram_drops_short_tracks(spark):
    from pyspark.sql import Row
    from xcube_spark.pipeline.multimodal import audio_spectrogram

    df = spark.createDataFrame(
        [Row(doc_id=1, payload=b"\x01\x02" * 4)],  # 4 samples < 16
        "doc_id LONG, payload BINARY")
    assert audio_spectrogram(df).count() == 0


def test_image_dct_phash_brightness_invariant(spark):
    """Adding a constant to every pixel changes only the DC
    coefficient — the 15 AC bits (and hence the pHash) must not move.
    This is the property that makes pHash complementary to dHash."""
    import numpy as np
    from pyspark.sql import Row
    from xcube_spark.pipeline.multimodal import image_dct_phash
    from xcube_spark.sources.png import encode_png

    rng = np.arange(32 * 32, dtype=np.int64)
    base = ((rng * 37 + (rng // 32) * 11) % 180).astype(np.uint8)
    bright = (base + 40).astype(np.uint8)  # max 219 + 40 < 256: no clip
    flat = np.full(32 * 32, 99, dtype=np.uint8)
    rows = [
        Row(doc_id=0, payload=bytearray(encode_png(base.reshape(32, 32)))),
        Row(doc_id=1, payload=bytearray(encode_png(bright.reshape(32, 32)))),
        Row(doc_id=2, payload=bytearray(encode_png(flat.reshape(32, 32)))),
        Row(doc_id=3, payload=bytearray(encode_png(base.reshape(32, 32)))),
    ]
    mm = spark.createDataFrame(rows, "doc_id BIGINT, payload BINARY")
    out = {r["doc_id"]: r["phash"]
           for r in image_dct_phash(mm).collect()}
    assert out[0] == out[3]          # identical image, identical hash
    assert out[0] == out[1]          # brightness shift: AC bits fixed
    assert out[0] != out[2]          # texture vs flat must differ
    assert 0 <= out[0] < (1 << 15)


def test_audio_oracle_signed_int16_matches_spark_decode(spark):
    """A payload byte pair with high byte >= 0x80 decodes to a NEGATIVE
    sample on the Spark side ('<i2'); the fixed oracle SQL applies the
    same wrap, so peak/sum_sq agree beyond pure-ASCII payloads."""
    import duckdb

    from xcube_spark.pipeline.multimodal import audio_features
    from xcube_spark.queries import load_all

    # Sample pair (0x10, 0x90) = unsigned 36880 -> signed -28656.
    # Spark decodes the raw binary literal; DuckDB addresses the
    # latin-1-decoded text per character (codepoint == byte < 256).
    payload = bytes([0x10, 0x90, 0x40, 0x00])  # samples: -28656, 64
    mm = spark.createDataFrame(
        [(1,)], "doc_id long").withColumn(
        "payload", F.lit(payload)).withColumn(
        "meta", F.struct(F.lit(len(payload)).alias("byte_len"),
                         F.lit("audio/pcm").alias("mime"),
                         F.md5(F.col("payload")).alias("digest")))
    got = audio_features(mm, frame=64).collect()[0]
    assert got.peak == 28656
    assert got.sum_sq == 28656 ** 2 + 64 ** 2
    assert got.n_clipped == 0

    # oracle twin on the same bytes, expressed as a 1-row documents view
    sql = load_all()["doc_audio_features"].sql
    con = duckdb.connect()
    text = payload.decode("latin-1")
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.execute("INSERT INTO documents VALUES (1, ?)", [text])
    row = con.execute(sql).fetchone()
    # columns: doc_id, n_samples, n_frames, peak, sum_sq, n_clipped
    assert row[3] == got.peak
    assert row[4] == got.sum_sq
    assert row[5] == got.n_clipped
