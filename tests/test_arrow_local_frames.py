"""Driver-built frames with a known schema are Arrow local relations.

``session.local_frame`` is the one constructor for them: its plan is a
``LocalTableScan`` and no Python worker runs when it executes. The
expected rows and schemas below are the ones the earlier list-of-tuples
constructors produced, so the port changes how the frames are built,
not what they hold."""

from __future__ import annotations

import ast
import datetime
import math
from pathlib import Path

import pytest

from tada_spark.operators.reshape import make_multilevel_labels
from tada_spark.operators.validate import validate
from tada_spark.sources.codec import read_matrix
from tada_spark.sources.records import read_records, write_records
from tada_spark.testing.equal import equal_records


def _shape(frame):
    """(labels, schema string, nullability per field, rows)."""
    df = frame.to_df()
    return (
        frame.labels,
        df.schema.simpleString(),
        [f.nullable for f in df.schema.fields],
        [tuple(r) for r in df.collect()],
    )


NULLS = [["a", "b", "c"], ["1", "(null)", ""], ["", "x", "NaN"], [None, "y", "n/a"]]

READ_RECORDS_CASES = {
    "nulls": (
        dict(records=NULLS),
        ([], "struct<a:string,b:string,c:string>", [True] * 3,
         [("1", None, ""), ("", "x", "NaN"), (None, "y", "n/a")]),
    ),
    "blank_as_null": (
        dict(records=NULLS, blank_as_null=True),
        ([], "struct<a:string,b:string,c:string>", [True] * 3,
         [("1", None, None), (None, "x", "NaN"), (None, "y", "n/a")]),
    ),
    "by_column": (
        dict(records=[["a", "1", "2"], ["b", "", "(null)"]], by_column=True),
        ([], "struct<a:string,b:string>", [True] * 2, [("1", ""), ("2", None)]),
    ),
    "header_rows_2": (
        dict(records=[["k", "v", "v"], ["", "x", "y"], ["p", "1", "2"]],
             header_rows=2, label_levels=1),
        (["k|"], "struct<k|:string,v|x:string,v|y:string>", [True] * 3,
         [("p", "1", "2")]),
    ),
    "blank_label_header": (
        dict(records=[["", "v"], ["p", "1"]], label_levels=1),
        (["*0"], "struct<*0:string,v:string>", [True] * 2, [("p", "1")]),
    ),
    "no_header_label": (
        dict(records=[["p", "1"], ["q", "2"]], header_rows=0, label_levels=1),
        (["*0"], "struct<*0:string,1:string>", [True] * 2, [("p", "1"), ("q", "2")]),
    ),
    "header_only": (
        dict(records=[["a", "b"]]),
        ([], "struct<a:string,b:string>", [True] * 2, []),
    ),
    "infer_types": (
        dict(records=[["a", "b", "c"], ["1.5", "2020-01-02", "x"],
                      ["2", "2020-01-03", "(null)"]], infer_types=True),
        ([], "struct<a:double,b:date,c:string>", [True] * 3,
         [(1.5, datetime.date(2020, 1, 2), "x"), (2.0, datetime.date(2020, 1, 3), None)]),
    ),
}


@pytest.mark.parametrize("case", sorted(READ_RECORDS_CASES))
def test_read_records_parity(spark, case):
    kwargs, want = READ_RECORDS_CASES[case]
    kwargs = dict(kwargs)
    assert _shape(read_records(spark, kwargs.pop("records"), **kwargs)) == want


def test_read_matrix_parity(spark):
    import numpy as np

    got = read_matrix(spark, [[1, 2.5], [float("nan"), -3]])
    assert _shape(got) == (
        [], "struct<0:double,1:double>", [True, True], [(1.0, 2.5), (None, -3.0)]
    )
    got = read_matrix(spark, np.array([[1, np.nan], [3, 4]]), col_names=["x.y", "z"])
    assert _shape(got) == (
        [], "struct<x.y:double,z:double>", [True, True], [(1.0, None), (3.0, 4.0)]
    )
    with pytest.raises(ValueError):
        read_matrix(spark, [[1, 2], [3]])
    with pytest.raises(ValueError):
        read_matrix(spark, [[1, 2]], col_names=["x"])


def test_make_multilevel_labels_parity(spark):
    got = make_multilevel_labels(
        spark, {"year": [2020, 2021], "k": ["a", None], "d": [datetime.date(2020, 1, 2)]}
    )
    labels, schema, nullable, rows = _shape(got)
    assert (labels, schema, nullable) == (
        ["year", "k", "d"], "struct<year:string,k:string,d:string>", [True] * 3
    )
    assert sorted(rows, key=str) == sorted(
        [("2020", "a", "2020-01-02"), ("2020", None, "2020-01-02"),
         ("2021", "a", "2020-01-02"), ("2021", None, "2020-01-02")],
        key=str,
    )
    empty = make_multilevel_labels(spark, {"year": [], "k": ["a"]})
    assert _shape(empty) == (["year", "k"], "struct<year:string,k:string>", [True] * 2, [])


def _lineage(df):
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString(), qe.toRdd().toDebugString()


LOCAL_FRAMES = {
    "read_records": lambda s: read_records(s, NULLS, infer_types=True).to_df(),
    "read_matrix": lambda s: read_matrix(s, [[1.0, 2.0], [3.0, math.nan]]).to_df(),
    "make_multilevel_labels": lambda s: make_multilevel_labels(
        s, {"a": [1, 2], "b": ["x"]}
    ).to_df(),
    "validate_empty_report": lambda s: validate(s.range(1), []),
}


@pytest.mark.parametrize("name", sorted(LOCAL_FRAMES))
def test_local_frames_skip_python_workers(spark, name):
    plan, rdd = _lineage(LOCAL_FRAMES[name](spark))
    assert "LocalTableScan" in plan, plan
    assert "PythonRDD" not in rdd, rdd


def test_records_round_trip_odd_names(spark):
    """Dots, backticks and duplicate names read, write and compare."""
    recs = [["a.b", "a`b", "x", "x"], ["1", "(null)", "2", "3"]]
    f = read_records(spark, recs)
    assert write_records(f) == recs
    assert equal_records(f, recs) == (True, [])
    labelled = read_records(spark, recs, label_levels=1)
    assert write_records(labelled, include_labels=False) == [["a`b", "x", "x"], ["(null)", "2", "3"]]


@pytest.mark.parametrize("cell", [1, True, 1.5, b"1"], ids=["int", "bool", "float", "bytes"])
def test_read_records_rejects_non_string_cells(spark, cell):
    with pytest.raises(TypeError, match=r"data row 1, column 1 \('b'\)"):
        read_records(spark, [["a", "b"], ["x", "y"], ["z", cell]])


# Every createDataFrame call in the package, other than the Arrow
# helper's own, with the reason it stays: each one infers its schema
# from the data (PySpark's inference differs from Arrow's on Decimal
# precision, dict rows and mixed int/float lists) or takes a pandas
# frame, which Spark already converts through Arrow.
CREATE_DATAFRAME_ALLOWED = {
    "session.py:local_frame": "the Arrow helper itself",
    "frame.py:Frame.with_values": "infers one column type from Python values",
    "sources/records.py:read_slices": "infers column types from Python values",
    "sources/records.py:read_interface_records": "infers a schema from dict rows",
    "sources/records.py:from_pandas": "pandas input",
    "sources/structs.py:read_structs": "infers a schema from dict rows (dataclasses.asdict)",
    "sources/codec.py:frame_from_json": "legacy no-dtype payloads infer their types (dtype-hinted ones share the call)",
    "operators/reshape.py:transpose": "pandas input",
}


def _call_sites(method: str) -> set[str]:
    """'file:scope' of every call of a method named ``method`` in the
    package."""
    root = Path(__file__).resolve().parent.parent / "tada_spark"
    sites = set()

    def visit(node, scope, rel):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(child, scope + [child.name], rel)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == method
            ):
                sites.add(f"{rel}:{'.'.join(scope)}")
            visit(child, scope, rel)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), [], path.relative_to(root).as_posix())
    return sites


def test_create_dataframe_only_through_arrow_helper():
    """A list of rows passed to createDataFrame runs every action on
    the frame through Python workers; driver-built frames with a known
    schema go through session.local_frame instead."""
    sites = _call_sites("createDataFrame")
    assert sites - set(CREATE_DATAFRAME_ALLOWED) == set()
    # no stale entries: every allowed site still calls createDataFrame
    assert set(CREATE_DATAFRAME_ALLOWED) - sites == set()


# Every call of a method that holds a frame's storage, by method.
# Library intermediates are pins; Frame.cache is the user's own opt-in.
HOLD_ALLOWED = {
    "localCheckpoint": {"plans/semantics.py:pin"},
    "checkpoint": {"plans/semantics.py:pin"},
    "persist": set(),
    "cache": {"frame.py:Frame.cache"},
}


@pytest.mark.parametrize("method", sorted(HOLD_ALLOWED))
def test_checkpoint_only_through_pin(method):
    """plans.semantics.pin is the one way the library holds an
    intermediate: it picks reliable or local storage, unpin/iterate
    free what it made, and Spark frees a pin once no plan reads it."""
    assert _call_sites(method) == HOLD_ALLOWED[method]
