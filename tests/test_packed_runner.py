"""The one pack and batch runner every per-series Python stage shares
(``spark_analytics._pack`` / ``_run_units``), and the per-series stages
moved onto it: unit shapes, key fidelity, the synthetic ``__g__`` key,
array-valued outputs and error propagation."""

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orange3_timeseries_spark.frame import TimeSeriesFrame
from orange3_timeseries_spark.spark_analytics import (
    _run_units,
    _unit_batches,
)

BIG = 2 ** 53 + 1  # not representable as a double

_SUM_FIELDS = [T.StructField("i", T.IntegerType()),
               T.StructField("s", T.DoubleType())]


def _cumsum():
    # built inside a function so cloudpickle ships it by value: Python
    # workers cannot import this test module
    def per_series(r):
        x = np.asarray(r["x"], dtype=float)
        if len(x) < 2:
            return None  # skipped unit
        return {"i": np.arange(len(x), dtype="int32"), "s": np.cumsum(x)}
    return per_series


class TestUnitBatches:
    def test_empty_batch_yields_empty_frame(self):
        schema = T.StructType([T.StructField("k", T.StringType())]
                              + _SUM_FIELDS)
        run = _unit_batches(["k"], schema, _cumsum())
        empty = pd.DataFrame({"k": pd.Series([], dtype=object),
                              "x": pd.Series([], dtype=object)})
        (out,) = list(run(iter([empty])))
        assert len(out) == 0 and list(out.columns) == ["k", "i", "s"]

    def test_every_unit_skipped(self):
        schema = T.StructType([T.StructField("k", T.StringType())]
                              + _SUM_FIELDS)
        run = _unit_batches(["k"], schema, _cumsum())
        pdf = pd.DataFrame({"k": ["a", "b"],
                            "x": [np.array([1.0]), np.array([])]})
        (out,) = list(run(iter([pdf])))
        assert len(out) == 0 and list(out.columns) == ["k", "i", "s"]

    def test_array_output_is_one_list_per_row(self):
        """Equal-length lists must not stack into a 2-D array."""
        schema = T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("v", T.ArrayType(T.DoubleType()))])
        run = _unit_batches(
            ["k"], schema,
            lambda r: {"v": [list(r["x"]), list(r["x"][::-1])]})
        pdf = pd.DataFrame({"k": ["a", "b"],
                            "x": [np.array([1.0, 2.0]),
                                  np.array([3.0, 4.0])]})
        (out,) = list(run(iter([pdf])))
        assert out["k"].tolist() == ["a", "a", "b", "b"]
        assert [list(v) for v in out["v"]] == [[1.0, 2.0], [2.0, 1.0],
                                               [3.0, 4.0], [4.0, 3.0]]


class TestRunUnits:
    def _units(self, spark, key_type, keys):
        rows = [(k, [float(j) for j in range(n)])
                for k, n in zip(keys, (3, 1, 4))]
        return spark.createDataFrame(rows, f"k {key_type}, x array<double>")

    @pytest.mark.parametrize("key_type,keys", [
        ("string", ["a", "b", "c"]),
        ("bigint", [BIG, BIG + 2, BIG + 4]),
    ])
    def test_keys_survive_and_skips_drop(self, spark, key_type, keys):
        out = _run_units(self._units(spark, key_type, keys), ["k"],
                         _SUM_FIELDS, _cumsum())
        assert out.columns == ["k", "i", "s"]
        assert dict(out.dtypes)["k"] == key_type
        got = sorted((r.k, r.i, r.s) for r in out.collect())
        # the 1-element unit (keys[1]) is skipped
        assert got == sorted([(keys[0], 0, 0.0), (keys[0], 1, 1.0),
                              (keys[0], 2, 3.0), (keys[2], 0, 0.0),
                              (keys[2], 1, 1.0), (keys[2], 2, 3.0),
                              (keys[2], 3, 6.0)])

    def test_synthetic_key_is_dropped(self, spark):
        units = spark.createDataFrame(
            [(1, [1.0, 2.0])], "__g__ int, x array<double>")
        out = _run_units(units, ["__g__"], _SUM_FIELDS, _cumsum())
        assert out.columns == ["i", "s"]
        assert sorted((r.i, r.s) for r in out.collect()) == [(0, 1.0),
                                                             (1, 3.0)]

    def test_no_group_columns(self, spark):
        units = spark.createDataFrame([([1.0, 2.0],)], "x array<double>")
        out = _run_units(units, [], _SUM_FIELDS, _cumsum())
        assert out.columns == ["i", "s"] and out.count() == 2

    def test_struct_input_column(self, spark):
        """A (series, order) unit as auto-ARIMA explodes it: the struct
        arrives as one mapping per row."""
        units = spark.createDataFrame([("a", [1.0, 2.0])],
                                      "k string, x array<double>")
        units = units.withColumn("o", F.explode(F.array(
            F.struct(F.lit(1).alias("p"), F.lit(0).alias("q")),
            F.struct(F.lit(2).alias("p"), F.lit(1).alias("q")))))
        fields = [T.StructField("p", T.IntegerType()),
                  T.StructField("q", T.IntegerType()),
                  T.StructField("n", T.IntegerType())]
        out = _run_units(units, ["k"], fields, lambda r: {
            "p": [int(r["o"]["p"])], "q": [int(r["o"]["q"])],
            "n": [len(r["x"])]})
        assert sorted(tuple(r) for r in out.collect()) == [("a", 1, 0, 2),
                                                           ("a", 2, 1, 2)]

    def test_array_output_column(self, spark):
        units = self._units(spark, "string", ["a", "b", "c"])
        fields = [T.StructField("v", T.ArrayType(T.DoubleType()))]
        out = _run_units(units, ["k"], fields,
                         lambda r: {"v": [list(r["x"][:2])]})
        got = {r.k: r.v for r in out.collect()}
        assert got == {"a": [0.0, 1.0], "b": [0.0], "c": [0.0, 1.0]}


def _events_dir(tmp_path):
    """A small events table whose ids start above 2^53."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(5)
    n_users, n = 2, 20
    ts = pd.date_range("2024-01-01", periods=n, freq="h")
    rows = {"event_id": [], "user_id": [], "ts": [], "value": []}
    for u in range(n_users):
        for t in range(n):
            rows["event_id"].append(BIG + u * n + t)
            rows["user_id"].append(u)
            rows["ts"].append(ts[t])
            rows["value"].append(float(rng.standard_normal()))
    pq.write_table(pa.table({
        "event_id": pa.array(rows["event_id"], pa.int64()),
        "user_id": pa.array(rows["user_id"], pa.int32()),
        "ts": pa.array(rows["ts"], pa.timestamp("us")),
        "value": pa.array(rows["value"], pa.float64())}),
        str(tmp_path / "events.parquet"))
    return str(tmp_path), set(rows["event_id"])


def test_ar1_fitted_keeps_large_event_ids(spark, tmp_path):
    from orange3_timeseries_spark.queries_models import (
        q_ar1_fitted_by_user,
    )

    sf_dir, ids = _events_dir(tmp_path)
    got = [r.event_id for r in
           q_ar1_fitted_by_user(spark, sf_dir).collect()]
    assert len(got) == len(ids) and set(got) == ids


def _unkeyed(spark, n=60):
    rng = np.random.RandomState(11)
    a = 5.0 + rng.standard_normal(n).cumsum() * 0.1
    b = np.roll(a, 1) + rng.standard_normal(n) * 0.1
    rows = [(t, float(a[t]), float(b[t])) for t in range(n)]
    df = spark.createDataFrame(rows, "t int, a double, b double")
    return TimeSeriesFrame(df, time_col="t")


class TestNoSyntheticKeyLeak:
    def test_fits_return_no_group_column(self, spark):
        from orange3_timeseries_spark.models import (
            ARIMA,
            evaluate_by_series,
            forecast_by_series,
        )
        from orange3_timeseries_spark.models.spark import (
            auto_arima_order_by_series,
        )

        tsf = _unkeyed(spark)
        outs = [
            forecast_by_series(tsf, ["a"], lambda: ARIMA((1, 0, 0)),
                               steps=3),
            evaluate_by_series(tsf, "a", [lambda: ARIMA((1, 0, 0))],
                               n_folds=2, forecast_steps=3),
            auto_arima_order_by_series(tsf, "a"),
            auto_arima_order_by_series(tsf, "a", keep_all=True),
        ]
        for out in outs:
            assert "__g__" not in out.columns, out.columns
            assert out.count() > 0

    def test_model_tables_round_trip_without_group_column(self, spark):
        from orange3_timeseries_spark.models.registry import (
            arima_model_table,
            forecast_from_model_table,
            forecast_from_smoothing_table,
            forecast_from_var_model_table,
            smoothing_model_table,
            var_model_table,
        )

        tsf = _unkeyed(spark)
        pairs = [
            (arima_model_table(tsf, ["a", "b"], order=(1, 0, 0)),
             lambda m: forecast_from_model_table(m, steps=4), 8),
            (var_model_table(tsf, ["a", "b"], maxlags=1),
             lambda m: forecast_from_var_model_table(m, steps=4), 8),
            (smoothing_model_table(tsf, ["a", "b"], family="holt"),
             lambda m: forecast_from_smoothing_table(m, steps=4), 8),
        ]
        for models, serve, n_rows in pairs:
            assert "__g__" not in models.columns, models.columns
            out = serve(models)
            assert out.columns[:3] == ["step", "var", "forecast"]
            assert "__g__" not in out.columns
            assert out.count() == n_rows


class TestProgrammingErrorsFailTheJob:
    def test_forecast_by_series(self, spark):
        from orange3_timeseries_spark.models import forecast_by_series

        class BrokenFit:
            """A model whose fit has a programming error (defined here
            so cloudpickle ships it by value)."""
            SUPPORTS_VECTOR = False

            def fit(self, y, var_names=None):
                raise TypeError("broken model")

        out = forecast_by_series(_unkeyed(spark), ["a"], BrokenFit,
                                 steps=3)
        with pytest.raises(PythonException, match="broken model"):
            out.collect()

    def test_evaluate_by_series(self, spark):
        from orange3_timeseries_spark.models import evaluate_by_series

        def factory():
            raise TypeError("broken factory")

        out = evaluate_by_series(_unkeyed(spark), "a", [factory],
                                 n_folds=2, forecast_steps=3)
        with pytest.raises(PythonException, match="broken factory"):
            out.collect()
