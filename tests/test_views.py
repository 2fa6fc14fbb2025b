"""Iceberg view spec (v1) tests: metadata shape, versioning, late
binding, catalog resolution (SURVEY §2 extension tier; the reference
has no view concept)."""

from __future__ import annotations

import json
import os

import pytest


def _mk_table(spark):
    spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(10)],
        "id long, grp string, val double",
    ).createOrReplaceTempView("vt_src")


def test_create_replace_and_time_travel(spark, tmp_path):
    from daskberg_spark.iceberg.views import IcebergView, create_view

    _mk_table(spark)
    path = str(tmp_path / "v")
    v = create_view(
        path, "SELECT grp, COUNT(*) AS n FROM vt_src GROUP BY grp", spark
    )
    assert v.metadata["format-version"] == 1
    assert v.current_version["version-id"] == 1
    assert v.current_version["summary"]["operation"] == "create"
    assert {r["grp"]: r["n"] for r in v.to_df(spark).collect()} == {
        "a": 5,
        "b": 5,
    }
    # schema derived from the resolved query
    names = [f["name"] for f in v.schema["fields"]]
    assert names == ["grp", "n"]

    v2 = create_view(
        path,
        "SELECT grp, CAST(SUM(val) AS DOUBLE) AS s FROM vt_src GROUP BY grp",
        spark,
        replace=True,
    )
    assert v2.current_version["version-id"] == 2
    assert v2.current_version["summary"]["operation"] == "replace"
    assert len(v2.metadata["schemas"]) == 2
    assert [e["version-id"] for e in v2.version_log()] == [1, 2]
    # definition time travel: version 1 still resolves
    v2.open_version(1)
    assert v2.sql().startswith("SELECT grp, COUNT(*)")
    assert v2.to_df(spark).count() == 2
    with pytest.raises(ValueError, match="no view version"):
        v2.open_version(99)
    # uuid stable across replace
    assert v2.metadata["view-uuid"] == v.metadata["view-uuid"]


def test_create_conflicts_and_dialects(spark, tmp_path):
    from daskberg_spark.iceberg.views import IcebergView, create_view

    _mk_table(spark)
    path = str(tmp_path / "v")
    create_view(path, "SELECT 1 AS one", spark)
    with pytest.raises(FileExistsError):
        create_view(path, "SELECT 2 AS two", spark)
    # dialect-only view (no session): empty schema allowed per spec
    p2 = str(tmp_path / "v2")
    v = create_view(p2, "SELECT x FROM t", dialect="trino")
    assert v.schema["fields"] == []
    with pytest.raises(ValueError, match="no sql representation"):
        v.sql("spark")
    assert v.sql("trino") == "SELECT x FROM t"


def test_late_binding_sees_current_table_state(spark, tmp_path):
    """Per spec a view stores SQL, not snapshot pins: re-registering the
    source with more rows changes the view's result with NO view
    metadata change."""
    from daskberg_spark.iceberg.views import IcebergView, create_view

    spark.createDataFrame([(1,)], "id long").createOrReplaceTempView("lb_src")
    path = str(tmp_path / "v")
    create_view(path, "SELECT COUNT(*) AS n FROM lb_src", spark)
    assert IcebergView(path).to_df(spark).collect()[0]["n"] == 1
    spark.createDataFrame([(1,), (2,)], "id long").createOrReplaceTempView(
        "lb_src"
    )
    assert IcebergView(path).to_df(spark).collect()[0]["n"] == 2


def test_catalog_register_view(spark, tmp_path):
    from daskberg_spark.iceberg.catalog import Catalog
    from daskberg_spark.iceberg.views import create_view

    _mk_table(spark)
    path = str(tmp_path / "v")
    create_view(
        path, "SELECT grp, COUNT(*) AS n FROM vt_src GROUP BY grp", spark
    )
    create_view(path, "SELECT id FROM vt_src WHERE id < 3", spark, replace=True)
    cat = Catalog(spark)
    cat.register_view("v_cur", path)
    assert spark.sql("SELECT COUNT(*) AS c FROM v_cur").collect()[0]["c"] == 3
    cat.register_view("v_old", path, version_id=1)
    assert spark.sql("SELECT COUNT(*) AS c FROM v_old").collect()[0]["c"] == 2


def test_view_metadata_json_shape(spark, tmp_path):
    """The emitted JSON carries every spec-required field, written
    compact through the table metadata encoder; a replace adds a
    compact v2."""
    from daskberg_spark.iceberg.views import create_view

    _mk_table(spark)
    path = str(tmp_path / "v")
    create_view(
        path,
        "SELECT grp FROM vt_src",
        spark,
        namespace=["analytics"],
        properties={"comment": "test view"},
    )
    with open(os.path.join(path, "metadata", "v1.metadata.json")) as f:
        text = f.read()
    assert "\n" not in text and '": ' not in text
    m = json.loads(text)
    for key in (
        "view-uuid",
        "format-version",
        "location",
        "schemas",
        "current-version-id",
        "versions",
        "version-log",
        "properties",
    ):
        assert key in m, key
    (ver,) = m["versions"]
    assert ver["default-namespace"] == ["analytics"]
    assert ver["representations"][0] == {
        "type": "sql",
        "sql": "SELECT grp FROM vt_src",
        "dialect": "spark",
    }
    assert m["properties"]["comment"] == "test view"
    create_view(path, "SELECT grp FROM vt_src WHERE grp > 0", spark, replace=True)
    with open(os.path.join(path, "metadata", "v2.metadata.json")) as f:
        text = f.read()
    assert "\n" not in text and '": ' not in text
    assert [v["version-id"] for v in json.loads(text)["versions"]] == [1, 2]


def test_create_view_accepts_file_url(tmp_path, spark):
    """create_view normalizes file:// URLs like every reader does —
    unstripped it wrote metadata into a literal './file:/...' relative
    directory and the final IcebergView(path) could not find it."""
    from daskberg_spark.iceberg.views import IcebergView, create_view

    p = tmp_path / "v_url"
    v = create_view(f"file://{p}", "SELECT 1 AS one")
    assert v.sql() == "SELECT 1 AS one"
    assert IcebergView(str(p)).sql() == "SELECT 1 AS one"


def test_create_or_replace_recovers_from_missing_hint(tmp_path):
    """A writer that crashed between publishing v1.metadata.json and the
    hint replace must not make CREATE OR REPLACE fail forever: existence
    detection falls back to the directory scan (the shared resolver)."""
    import os

    from daskberg_spark.iceberg.views import IcebergView, create_view

    p = str(tmp_path / "v_crash")
    create_view(p, "SELECT 1 AS one")
    os.remove(os.path.join(p, "metadata", "version-hint.text"))
    # reader already recovers via the shared resolver
    assert IcebergView(p).sql() == "SELECT 1 AS one"
    # and so does the writer: replace appends v2 instead of crashing
    v2 = create_view(p, "SELECT 2 AS two", replace=True)
    assert v2.sql() == "SELECT 2 AS two"
    assert len(v2.versions) == 2
