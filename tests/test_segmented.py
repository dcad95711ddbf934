"""Segmented per-group isolation forests."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from spark_iforest_spark import segmented
from spark_iforest_spark.nodes import pack_forest
from spark_iforest_spark.scorer import anomaly_scores


@pytest.fixture(scope="module")
def grouped(spark):
    """Three segments with different base distributions + one planted
    outlier per segment (far outside its own segment's cloud)."""
    rng = np.random.default_rng(7)
    rows = []
    rid = 0
    for g, (mu, sigma) in enumerate([(0.0, 1.0), (100.0, 5.0), (-50.0, 0.1)]):
        for _ in range(120):
            rows.append((f"g{g}", rid, (mu + sigma * rng.standard_normal(3)).tolist()))
            rid += 1
        rows.append((f"g{g}", rid, [mu + 40 * sigma] * 3))  # outlier
        rid += 1
    return spark.createDataFrame(
        rows, "seg string, row_id long, features array<double>"
    )


def test_planted_outlier_tops_each_segment(grouped):
    out = segmented.fit_score_groups(
        grouped, "seg", id_col="row_id", num_trees=50, max_samples=64,
        contamination=1.0 / 121.0, seed=3,
    ).collect()
    by_seg = {}
    for r in out:
        by_seg.setdefault(r["seg"], []).append(r)
    assert set(by_seg) == {"g0", "g1", "g2"}
    for seg, rows in by_seg.items():
        assert len(rows) == 121
        top = max(rows, key=lambda r: (r["anomalyScore"], r["row_id"]))
        # the planted outlier (highest row_id in segment) scores highest
        assert top["row_id"] == max(r["row_id"] for r in rows), seg
        # contamination ~ 1/121 -> exactly the top row flagged
        flagged = [r["row_id"] for r in rows if r["prediction"] == 1]
        assert flagged == [top["row_id"]], seg


def test_partition_layout_invariance(grouped):
    a = sorted(
        map(tuple, segmented.fit_score_groups(
            grouped.repartition(3), "seg", id_col="row_id", seed=5
        ).collect())
    )
    b = sorted(
        map(tuple, segmented.fit_score_groups(
            grouped.repartition(17), "seg", id_col="row_id", seed=5
        ).collect())
    )
    assert a == b and a


def test_segments_are_independent(grouped, spark):
    """A segment's scores must not depend on which OTHER segments share
    the DataFrame — fit on the full table vs the single segment alone."""
    full = {
        (r["seg"], r["row_id"]): r["anomalyScore"]
        for r in segmented.fit_score_groups(
            grouped, "seg", id_col="row_id", seed=9
        ).collect()
    }
    solo = {
        (r["seg"], r["row_id"]): r["anomalyScore"]
        for r in segmented.fit_score_groups(
            grouped.where(F.col("seg") == "g1"), "seg", id_col="row_id", seed=9
        ).collect()
    }
    for k, v in solo.items():
        assert full[k] == v


def test_oversized_segment_raises(grouped):
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_rows_per_group"):
        segmented.fit_score_groups(
            grouped, "seg", id_col="row_id", max_rows_per_group=10
        ).collect()


def test_fit_groups_transform_matches_in_place(grouped):
    """The persistable lifecycle reproduces fit_score_groups bit-exactly
    on the training slice: same shared fit kernel -> same forest, psi read
    back from the node relation, threshold fixed at fit time."""
    params = dict(num_trees=50, max_samples=64, contamination=1.0 / 121.0, seed=3)
    in_place = sorted(
        map(tuple, segmented.fit_score_groups(
            grouped, "seg", id_col="row_id", **params
        ).collect())
    )
    model = segmented.fit_groups(grouped, "seg", **params)
    via_model = sorted(
        map(tuple, model.transform(grouped, id_col="row_id").collect())
    )
    assert via_model == in_place and via_model


def test_fit_groups_layout_invariant_model(grouped):
    model = segmented.fit_groups(grouped.repartition(3), "seg", seed=5)
    a = sorted(map(tuple, model.nodes.collect()))
    b = sorted(map(tuple, segmented.fit_groups(
        grouped.repartition(17), "seg", seed=5).nodes.collect()))
    assert a == b and a
    # the relation is each segment's forest from the shared kernel, row by
    # row, with the per-segment scalars
    from spark_iforest_spark.nodes import pack_forest, tree_to_rows

    assert model.nodes.schema.simpleString() == (
        "struct<seg:string,treeID:int,id:int,featureIndex:int,featureValue:double,"
        "leftChild:int,rightChild:int,numInstance:bigint,psi:double,threshold:double,"
        "n_rows:bigint>"
    )
    expected = []
    for key in ("g0", "g1", "g2"):
        x = np.array(
            [r["features"] for r in grouped.where(F.col("seg") == key).collect()]
        )
        trees, psi = segmented._segment_forest(x, key, 50, 256, 10, 1.0, 5)
        thr = segmented._order_stat_threshold(
            anomaly_scores(pack_forest(trees), x, float(psi)), 0.01
        )
        expected += [
            (key, *r, float(psi), thr, len(x))
            for t, tree in enumerate(trees)
            for r in tree_to_rows(t, tree)
        ]
    assert a == sorted(expected)


def test_save_load_roundtrip_scores_new_rows(grouped, spark, tmp_path):
    """fit -> save -> load -> transform NEW rows == transform from the
    in-memory model (the reference's IForestModel save/load contract,
    IForest.scala:283-310, at segment granularity); unknown segments come
    back NULL."""
    params = dict(num_trees=30, max_samples=64, contamination=0.05, seed=11)
    train = grouped.where(F.col("row_id") % 3 != 0)
    new = grouped.where(F.col("row_id") % 3 == 0)
    model = segmented.fit_groups(train, "seg", **params)
    path = f"file://{tmp_path}/segmodel"
    model.save(path)
    loaded = segmented.SegmentedIForestModel.load(spark, path)
    assert loaded.params == model.params
    a = sorted(map(tuple, model.transform(new, id_col="row_id").collect()))
    b = sorted(map(tuple, loaded.transform(new, id_col="row_id").collect()))
    assert a == b and a
    # scores are real (non-null) for every known segment
    assert all(r[2] is not None and r[3] is not None for r in a)
    # an unseen segment scores NULL
    unseen = new.withColumn("seg", F.lit("never-fitted"))
    rows = loaded.transform(unseen, id_col="row_id").collect()
    assert rows and all(
        r["anomalyScore"] is None and r["prediction"] is None for r in rows
    )


def test_segments_summary(grouped):
    model = segmented.fit_groups(grouped, "seg", num_trees=20, max_samples=32)
    segs = {r["seg"]: r for r in model.segments().collect()}
    assert set(segs) == {"g0", "g1", "g2"}
    for r in segs.values():
        assert r["n_trees"] == 20
        assert r["n_rows"] == 121
        assert r["psi"] == 32.0
        assert 0.0 < r["threshold"] < 1.0
        assert r["n_nodes"] >= 20 * 3  # at least a root + 2 children per tree


def test_layout_invariance_with_subsampling(grouped):
    """psi < n regime: the sampled tree pool must be a pure function of the
    segment's row SET, not its shuffle arrival order (round-7 fix — the
    pool is canonicalized by row content before sampling)."""
    kw = dict(id_col="row_id", num_trees=20, max_samples=32, seed=5)
    a = sorted(map(tuple, segmented.fit_score_groups(
        grouped.repartition(3), "seg", **kw).collect()))
    b = sorted(map(tuple, segmented.fit_score_groups(
        grouped.repartition(17), "seg", **kw).collect()))
    assert a == b and a


def test_transform_broadcast_matches_cogroup(grouped):
    """The stateless broadcast scorer must equal the cogroup transform
    bit-exactly on known segments and NULL unknown ones."""
    params = dict(num_trees=30, max_samples=64, contamination=0.05, seed=11)
    train = grouped.where(F.col("row_id") % 3 != 0)
    new = grouped.where(F.col("row_id") % 3 == 0)
    model = segmented.fit_groups(train, "seg", **params)
    a = sorted(map(tuple, model.transform(new, id_col="row_id").collect()))
    b = sorted(map(tuple, model.transform_broadcast(new, id_col="row_id").collect()))
    assert a == b and a
    unseen = new.withColumn("seg", F.lit("nope"))
    rows = model.transform_broadcast(unseen, id_col="row_id").collect()
    assert rows and all(r["anomalyScore"] is None and r["prediction"] is None for r in rows)
    # the guard trips on oversized models
    with pytest.raises(ValueError, match="max_nodes"):
        model.transform_broadcast(new, max_nodes=10)


def test_score_stream_segmented_replay_equals_batch(grouped, spark, tmp_path):
    """availableNow replay of the segmented stream scorer == the batch
    broadcast transform on the same rows."""
    from spark_iforest_spark import streaming as stm

    model = segmented.fit_groups(grouped, "seg", num_trees=20, max_samples=32, seed=3)
    src_path = str(tmp_path / "rows")
    grouped.write.parquet(src_path)
    stream = spark.readStream.schema(grouped.schema).parquet(src_path)
    scored = stm.score_stream_segmented(model, stream, id_col="row_id")
    q = (
        scored.writeStream.format("memory")
        .queryName("seg_stream_scores")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.table("seg_stream_scores").collect()))
    exp = sorted(map(tuple, model.transform_broadcast(grouped, id_col="row_id").collect()))
    assert got == exp and got


def test_update_groups_splice_equals_full_refit(grouped, spark):
    """Refit only the changed segment: splice(update) == full fit_groups
    over the new snapshot, bit-exactly (kernel determinism); unchanged
    segments' node rows are byte-identical to the original model's."""
    params = dict(num_trees=20, max_samples=32, contamination=0.05, seed=13)
    model = segmented.fit_groups(grouped, "seg", **params)
    # "new snapshot": g1's rows shifted, g0/g2 untouched
    snap = grouped.withColumn(
        "features",
        F.when(
            F.col("seg") == "g1",
            F.transform("features", lambda x: x + F.lit(500.0)),
        ).otherwise(F.col("features")),
    )
    updated = segmented.update_groups(model, snap, ["g1"])
    assert updated.params == model.params
    full = segmented.fit_groups(snap, "seg", **params)
    a = sorted(map(tuple, updated.nodes.collect()))
    b = sorted(map(tuple, full.nodes.collect()))
    assert a == b and a
    # unchanged segments kept verbatim
    keep_old = sorted(map(tuple, model.nodes.where("seg != 'g1'").collect()))
    keep_new = sorted(map(tuple, updated.nodes.where("seg != 'g1'").collect()))
    assert keep_old == keep_new
    # dropping a key: empty changed list is a no-op returning the model
    assert segmented.update_groups(model, snap, []) is model


def test_update_groups_preserves_null_key_segment(spark):
    """A NULL segment key must survive an update of OTHER segments
    (round-7 review fix: bare ~isin() is NULL for null keys) and be
    refittable when None is in changed_keys."""
    import numpy as np

    rng = np.random.default_rng(1)
    rows = [
        (None if i % 2 else "a", i, rng.standard_normal(3).tolist())
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "seg string, row_id long, features array<double>")
    model = segmented.fit_groups(df, "seg", num_trees=10, max_samples=32, seed=2)
    null_nodes = sorted(map(tuple, model.nodes.where(F.col("seg").isNull()).collect()))
    assert null_nodes
    updated = segmented.update_groups(model, df, ["a"])
    assert sorted(
        map(tuple, updated.nodes.where(F.col("seg").isNull()).collect())
    ) == null_nodes
    # refitting the NULL segment itself also works and equals a full fit
    again = segmented.update_groups(model, df, [None])
    full = segmented.fit_groups(df, "seg", num_trees=10, max_samples=32, seed=2)
    assert sorted(map(tuple, again.nodes.collect()), key=repr) == sorted(
        map(tuple, full.nodes.collect()), key=repr
    )


def test_transform_broadcast_scores_null_key_segment(spark):
    """round-7 review fix: pandas groupby dropna must not silently NULL
    out a fitted NULL-key segment on the broadcast/streaming path —
    broadcast == cogroup for null keys too."""
    import numpy as np

    rng = np.random.default_rng(4)
    rows = [
        (None if i % 2 else "a", i, rng.standard_normal(3).tolist())
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "seg string, row_id long, features array<double>")
    model = segmented.fit_groups(df, "seg", num_trees=10, max_samples=32, seed=2)
    a = sorted(map(tuple, model.transform(df, id_col="row_id").collect()), key=repr)
    b = sorted(map(tuple, model.transform_broadcast(df, id_col="row_id").collect()), key=repr)
    assert a == b
    nulls = [r for r in model.transform_broadcast(df, id_col="row_id").collect()
             if r["seg"] is None]
    assert nulls and all(r["anomalyScore"] is not None for r in nulls)


def test_recalibrate_groups_thresholds(grouped):
    """Recalibrating on the training slice with the fitted contamination
    reproduces the fitted thresholds exactly; a tighter contamination
    raises flag counts without touching any forest node."""
    params = dict(num_trees=20, max_samples=32, contamination=0.05, seed=13)
    model = segmented.fit_groups(grouped, "seg", **params)
    same = segmented.recalibrate_groups(model, grouped, 0.05)
    a = sorted(map(tuple, model.nodes.collect()))
    b = sorted(map(tuple, same.nodes.collect()))
    assert a == b  # identical thresholds AND identical trees
    looser = segmented.recalibrate_groups(model, grouped, 0.20)
    assert looser.params["contamination"] == 0.20
    # trees untouched: every non-threshold column identical
    drop_thr = lambda m: sorted(
        map(tuple, m.nodes.drop("threshold").collect())
    )
    assert drop_thr(looser) == drop_thr(model)
    # more contamination -> strictly more (or equal) flags per segment
    flags = lambda m: {
        r["seg"]: r["n"]
        for r in m.transform(grouped)
        .groupBy("seg").agg(F.sum("prediction").alias("n")).collect()
    }
    f_old, f_new = flags(model), flags(looser)
    assert all(f_new[k] >= f_old[k] for k in f_old)
    assert sum(f_new.values()) > sum(f_old.values())


def test_group_seed_canonicalizes_numpy_scalar_keys():
    """round-8 advice fix: executor-side keys are numpy scalars, driver
    recomputes pass Python scalars — the seed must not depend on which
    one arrives (numpy>=2.0 reprs np.int32(3) as 'np.int32(3)')."""
    py = segmented._group_seed(7, 3).generate_state(4)
    npy = segmented._group_seed(7, np.int64(3)).generate_state(4)
    assert (py == npy).all()
    pyf = segmented._group_seed(7, 1.5).generate_state(4)
    npf = segmented._group_seed(7, np.float64(1.5)).generate_state(4)
    assert (pyf == npf).all()
    # distinct keys still decorrelate
    assert not (py == segmented._group_seed(7, 4).generate_state(4)).all()

    # numpy>=2.0 regime simulated (the env pins 1.26, where repr of a
    # numpy scalar already equals the Python repr, making the asserts
    # above vacuously green): a scalar whose repr is 'np.int64(3)' must
    # still hash like 3 — this FAILS if the .item() canonicalization in
    # _group_seed is removed
    class _Np2Int:
        def __repr__(self):
            return "np.int64(3)"

        def item(self):
            return 3

    np2 = segmented._group_seed(7, _Np2Int()).generate_state(4)
    assert (py == np2).all()


def test_transform_broadcast_null_features_on_unfitted_segment(grouped, spark):
    """Rows of an UNFITTED segment may carry NULL feature arrays (nothing
    was ever fitted on them); they must come back as NULL score/prediction
    — not crash the whole-chunk conversion (round-8 review fix). Rows of
    fitted segments in the same batch still score bit-equal to cogroup."""
    params = dict(num_trees=20, max_samples=64, contamination=0.05, seed=3)
    model = segmented.fit_groups(grouped, "seg", **params)
    junk = spark.createDataFrame(
        [("ghost", 9001, None), ("ghost", 9002, None)],
        "seg string, row_id long, features array<double>",
    )
    mixed = grouped.where(F.col("row_id") % 7 == 0).unionByName(junk)
    got = {r.row_id: r for r in
           model.transform_broadcast(mixed, id_col="row_id").collect()}
    assert got[9001].anomalyScore is None and got[9001].prediction is None
    assert got[9002].anomalyScore is None
    via_cogroup = {r.row_id: r for r in
                   model.transform(mixed, id_col="row_id").collect()}
    assert len(got) == len(via_cogroup)
    for rid, r in via_cogroup.items():
        assert got[rid].anomalyScore == r.anomalyScore
        assert got[rid].prediction == r.prediction


def test_transform_broadcast_mixed_feature_dims(spark):
    """Segments are fitted independently, so one model may legitimately
    carry different feature dimensionalities per segment (round-9 review
    fix): the covered==n one-shot Arrow conversion raises ValueError on
    the ragged chunk — it must fall back to per-group conversion and stay
    bit-equal to the cogroup path."""
    rng = np.random.default_rng(11)
    rows, rid = [], 0
    for g, dim in [("a", 3), ("b", 5)]:
        for _ in range(60):
            rows.append((g, rid, rng.standard_normal(dim).tolist()))
            rid += 1
    df = spark.createDataFrame(
        rows, "seg string, row_id long, features array<double>"
    )
    model = segmented.fit_groups(
        df, "seg", num_trees=20, max_samples=32, contamination=0.1, seed=5
    )
    bc = {r.row_id: r for r in
          model.transform_broadcast(df, id_col="row_id").collect()}
    cg = {r.row_id: r for r in model.transform(df, id_col="row_id").collect()}
    assert len(bc) == len(cg) == rid
    for k, r in cg.items():
        assert bc[k].anomalyScore == r.anomalyScore
        assert bc[k].prediction == r.prediction


def test_nan_null_and_real_double_keys_are_three_segments(spark):
    """A NaN double key is a segment of its own, apart from the NULL
    segment, as Spark's groupBy makes it: segments() lists three keys,
    NaN-keyed rows come back keyed NaN (not NULL), and the in-place, the
    cogroup and the broadcast paths agree bit for bit on the training
    slice."""
    rng = np.random.default_rng(12)
    keys = [float("nan"), None, 1.0]
    rows = [(keys[i % 3], i, rng.standard_normal(3).tolist()) for i in range(120)]
    df = spark.createDataFrame(rows, "seg double, row_id long, features array<double>")
    params = dict(num_trees=10, max_samples=16, contamination=0.1, seed=4)
    model = segmented.fit_groups(df, "seg", **params)

    def scored(out):
        # repr keeps NaN comparable and apart from None
        return sorted(
            (r.row_id, repr(r.seg), r.anomalyScore, r.prediction) for r in out.collect()
        )

    via_cogroup = scored(model.transform(df, id_col="row_id"))
    in_place = scored(segmented.fit_score_groups(df, "seg", id_col="row_id", **params))
    assert via_cogroup == in_place
    assert scored(model.transform_broadcast(df, id_col="row_id")) == in_place
    assert [r[1] for r in in_place] == [repr(keys[i % 3]) for i in range(120)]
    assert all(r[2] is not None for r in in_place)
    segs = model.segments().collect()
    assert sorted(repr(r.seg) for r in segs) == ["1.0", "None", "nan"]
    assert all(r.n_rows == 40 for r in segs)


@pytest.fixture(scope="module")
def fitted(grouped):
    model = segmented.fit_groups(grouped, "seg", num_trees=10, max_samples=32, seed=2)
    model.nodes.cache().count()
    yield model
    model.nodes.unpersist()


@pytest.mark.parametrize(
    "bad, error",
    [(None, "has 1 null row"), ([1.0, 2.0], "has rows of different lengths")],
    ids=["null", "uneven"],
)
@pytest.mark.parametrize(
    "entry", ["fit_score_groups", "fit_groups", "transform", "transform_broadcast"]
)
def test_bad_feature_row_in_fitted_segment_names_the_column(
    grouped, fitted, spark, entry, bad, error
):
    """A null row, or a row of another length than its segment's, in a
    segment that is fitted (or being fitted) raises the features
    conversion's ValueError naming the column, on every entry point."""
    extra = spark.createDataFrame(
        [("g1", 9001, bad)], "seg string, row_id long, features array<double>"
    )
    # one partition: the broadcast scorer sees the bad row in the same
    # batch as the segment's good rows
    mixed = grouped.unionByName(extra).coalesce(1)
    run = {
        "fit_score_groups": lambda: segmented.fit_score_groups(
            mixed, "seg", num_trees=10, max_samples=32
        ),
        "fit_groups": lambda: segmented.fit_groups(
            mixed, "seg", num_trees=10, max_samples=32
        ).nodes,
        "transform": lambda: fitted.transform(mixed, id_col="row_id"),
        "transform_broadcast": lambda: fitted.transform_broadcast(mixed, id_col="row_id"),
    }[entry]
    with pytest.raises(Exception, match=f"ValueError: features column 'features' {error}"):
        run().collect()


_KEY_VALUES = {
    "string": st.sampled_from(["a", "b", None]),
    "bigint": st.sampled_from([3, -7, None]),
    "double": st.sampled_from([0.5, float("nan"), None]),
}


@pytest.mark.parametrize("key_type", sorted(_KEY_VALUES))
@given(data=st.data())
@settings(max_examples=3, deadline=None)
def test_fit_score_groups_matches_driver_oracle(spark, key_type, data):
    """fit_score_groups equals a driver-side group-by-key oracle built from
    the shared kernels, on tiny inputs whose keys include NULL (and NaN
    for doubles, a segment of its own)."""
    n = data.draw(st.integers(1, 30), "rows")
    d = data.draw(st.integers(1, 3), "width")
    keys = data.draw(st.lists(_KEY_VALUES[key_type], min_size=n, max_size=n), "keys")
    x_seed = data.draw(st.integers(0, 2**32 - 1), "x_seed")
    kw = dict(
        num_trees=4,
        max_samples=data.draw(st.integers(2, 12), "max_samples"),
        max_depth=6,
        max_features=1.0,
        seed=data.draw(st.integers(0, 2**31 - 1), "seed"),
    )
    contamination = data.draw(st.sampled_from([0.0, 0.1, 0.34]), "contamination")
    # two decimals: repeated rows and tied scores happen
    x = np.random.default_rng(x_seed).standard_normal((n, d)).round(2)
    rows = [(k, i, x[i].tolist()) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, f"seg {key_type}, row_id long, features array<double>")
    cols = ["seg", "row_id", "anomalyScore", "prediction"]

    got = segmented.fit_score_groups(
        df, "seg", id_col="row_id", contamination=contamination, **kw
    ).collect()
    got = pd.DataFrame(
        [(repr(r.seg), r.row_id, r.anomalyScore, r.prediction) for r in got], columns=cols
    )

    groups = {}  # repr keeps NaN and None apart, like Spark's grouping
    for k, i, _ in rows:
        groups.setdefault(repr(k), (k, []))[1].append(i)
    expected = []
    for rk, (k, ids) in groups.items():
        xs = x[ids]
        trees, psi = segmented._segment_forest(xs, k, **kw)
        s = anomaly_scores(pack_forest(trees), xs, float(psi))
        thr = segmented._order_stat_threshold(s, contamination)
        expected += [(rk, i, v, int(v > thr)) for i, v in zip(ids, s.tolist())]
    expected = pd.DataFrame(expected, columns=cols)

    def by_id(frame):
        return frame.sort_values("row_id").reset_index(drop=True)

    assert_frame_equal(by_id(got), by_id(expected), check_exact=True)


def test_timestamp_keys_outside_utc_session(spark):
    """Spark hands TIMESTAMP keys to a UDF in the session time zone and
    takes them back only in UTC: with a non-UTC session every path still
    runs, returns the same instants as keys, agrees bit for bit, and fits
    the same forests as under UTC."""
    import datetime

    rng = np.random.default_rng(6)
    t0 = datetime.datetime(2020, 1, 1, 12, 0)
    keys = [t0, t0 + datetime.timedelta(hours=5), None]
    rows = [(keys[i % 3], i, rng.standard_normal(3).tolist()) for i in range(90)]
    params = dict(num_trees=5, max_samples=16, contamination=0.1, seed=3)

    def scored(out):
        return sorted(
            (r.row_id, r.epoch, r.anomalyScore, r.prediction)
            for r in out.select("*", F.unix_micros("seg").alias("epoch")).collect()
        )

    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.createDataFrame(rows, "seg timestamp, row_id long, features array<double>")
        in_utc = scored(segmented.fit_score_groups(df, "seg", id_col="row_id", **params))
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        model = segmented.fit_groups(df, "seg", **params)
        in_place = scored(segmented.fit_score_groups(df, "seg", id_col="row_id", **params))
        assert scored(model.transform(df, id_col="row_id")) == in_place
        assert scored(model.transform_broadcast(df, id_col="row_id")) == in_place
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert in_place == in_utc
    assert all(r[2] is not None for r in in_place)
