"""Iceberg view spec (v1): versioned SQL views as view-metadata JSON.

Beyond-reference: ``/root/reference/daskberg`` has no view concept; this
implements the public Iceberg *view* spec — a view is a named, versioned
SQL text plus an output schema, stored as ``view-metadata`` JSON with a
full version history, so "the query that built corpus release 3" is as
time-travelable as the data itself.

Spec surface covered:

- metadata: ``view-uuid``, ``format-version: 1``, ``location``,
  ``schemas`` / per-version ``schema-id``, ``current-version-id``,
  ``versions`` (with ``representations`` of type ``sql`` + dialect,
  ``default-namespace``, ``summary``), ``version-log``, ``properties``.
- CREATE / CREATE OR REPLACE semantics: ``replace`` appends a NEW
  version (and schema, if changed) and moves ``current-version-id``;
  prior versions stay resolvable — the spec's versioned-view guarantee.
- Version file naming follows this engine's table convention
  (``metadata/vN.metadata.json`` + ``version-hint.text``) so the same
  loader/concurrency machinery applies; the spec leaves the naming
  scheme to the catalog.

Resolution is deliberately late-bound, per spec: a view stores SQL, not
a plan or snapshot pins, so reading it re-plans against the CURRENT
state of the referenced tables through the catalog.  At 100 TB nothing
here touches data — a view read costs exactly its underlying query.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any

from pyspark.sql import DataFrame

from daskberg_spark.iceberg.metadata import (
    _strip_scheme,
    metadata_json,
    resolve_latest_version,
)


def _spark_to_iceberg_type(dt: Any) -> Any:
    """Spark DataType → Iceberg schema type (JSON form).  Nested types
    recurse; field ids are assigned by the caller's counter."""
    from pyspark.sql import types as T

    simple = {
        T.StringType: "string",
        T.LongType: "long",
        T.IntegerType: "int",
        T.ShortType: "int",
        T.ByteType: "int",
        T.DoubleType: "double",
        T.FloatType: "float",
        T.BooleanType: "boolean",
        T.DateType: "date",
        # tz-aware Spark timestamps are Iceberg `timestamptz` — mapping
        # both to 'timestamp' made the round-trip through
        # conversions.iceberg_to_spark_type drop timezone semantics
        T.TimestampType: "timestamptz",
        T.TimestampNTZType: "timestamp",
        T.BinaryType: "binary",
    }
    for cls, name in simple.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    raise NotImplementedError(f"view schema type {dt}")


def _schema_from_df(df: DataFrame, schema_id: int) -> dict[str, Any]:
    """Derive the view's Iceberg output schema from the resolved query's
    Spark schema.  Nested struct/array/map outputs get nested Iceberg
    types with sequentially assigned field ids."""
    from pyspark.sql import types as T

    counter = [0]

    def next_id() -> int:
        counter[0] += 1
        return counter[0]

    def conv(dt: Any) -> Any:
        if isinstance(dt, T.StructType):
            return {
                "type": "struct",
                "fields": [
                    {
                        "id": next_id(),
                        "name": f.name,
                        "required": not f.nullable,
                        "type": conv(f.dataType),
                    }
                    for f in dt.fields
                ],
            }
        if isinstance(dt, T.ArrayType):
            return {
                "type": "list",
                "element-id": next_id(),
                "element": conv(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            return {
                "type": "map",
                "key-id": next_id(),
                "key": conv(dt.keyType),
                "value-id": next_id(),
                "value": conv(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        return _spark_to_iceberg_type(dt)

    struct = conv(df.schema)
    struct["schema-id"] = schema_id
    return struct


class IcebergView:
    """An Iceberg view opened from its location directory.

    ``current_version`` / ``sql()`` reflect ``current-version-id``;
    ``open_version(version_id)`` time-travels the VIEW DEFINITION (not
    the data — per spec, a view version still reads current table
    state).  ``to_df(spark)`` resolves the SQL against whatever table
    names the session's catalog has registered."""

    def __init__(self, url: str, version: int | None = None) -> None:
        self.url = _strip_scheme(url).rstrip("/")
        meta_dir = os.path.join(self.url, "metadata")
        if version is None:
            # the table loader's hint resolution (missing/EMPTY hint →
            # directory scan) — one shared implementation, so views
            # survive the same mid-publish races tables do
            version = resolve_latest_version(self.url)
        self.file_version = version
        with open(
            os.path.join(meta_dir, f"v{version}.metadata.json")
        ) as f:
            self.metadata = json.load(f)
        if self.metadata.get("format-version") != 1:
            raise NotImplementedError(
                f"view format-version {self.metadata.get('format-version')}"
            )
        self._selected: int = self.metadata["current-version-id"]

    @property
    def versions(self) -> dict[int, dict[str, Any]]:
        return {v["version-id"]: v for v in self.metadata["versions"]}

    @property
    def current_version(self) -> dict[str, Any]:
        return self.versions[self._selected]

    def open_version(self, version_id: int) -> None:
        if version_id not in self.versions:
            raise ValueError(
                f"no view version {version_id}; known: {sorted(self.versions)}"
            )
        self._selected = version_id

    def sql(self, dialect: str = "spark") -> str:
        for rep in self.current_version["representations"]:
            if rep["type"] == "sql" and rep.get("dialect", dialect) == dialect:
                return rep["sql"]
        raise ValueError(
            f"no sql representation for dialect {dialect!r} in view "
            f"version {self._selected}"
        )

    @property
    def schema(self) -> dict[str, Any]:
        sid = self.current_version["schema-id"]
        for s in self.metadata["schemas"]:
            if s.get("schema-id") == sid:
                return s
        raise ValueError(f"schema {sid} missing from view metadata")

    def version_log(self) -> list[dict[str, Any]]:
        return list(self.metadata.get("version-log", []))

    def to_df(self, spark: Any) -> DataFrame:
        """Resolve the selected version's SQL in the session — the
        referenced table names must already be registered (temp views /
        Catalog).  Late-bound per spec: always current table state."""
        return spark.sql(self.sql())


# deterministic clock matching the table writer's (fixture builds stay
# byte-stable; see IcebergWriter._publish)
_LOG_EPOCH = 1700000000000


def create_view(
    path: str,
    sql: str,
    spark: Any = None,
    dialect: str = "spark",
    namespace: list[str] | None = None,
    properties: dict[str, str] | None = None,
    replace: bool = False,
) -> IcebergView:
    """CREATE [OR REPLACE] VIEW at ``path``.

    The output schema is derived by resolving ``sql`` against the
    session (pass ``spark`` with the referenced tables registered);
    without a session an empty schema is recorded, which the spec
    permits for dialect-only views.  ``replace`` appends a new version
    to an existing view — prior versions remain readable."""
    path = _strip_scheme(path).rstrip("/")  # same normalization readers do
    meta_dir = os.path.join(path, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    # existence via the shared resolver, NOT the hint alone: a writer
    # that crashed between publishing vN.metadata.json and the hint
    # replace would otherwise make CREATE OR REPLACE fail forever
    # (exists=False → file_version=1 → os.link FileExistsError)
    exists = os.path.exists(hint)
    if not exists and os.path.isdir(meta_dir):
        try:
            resolve_latest_version(path)
            exists = True
        except (FileNotFoundError, ValueError):
            exists = False
    if exists and not replace:
        raise FileExistsError(f"view already exists at {path}")

    if exists:
        prior = IcebergView(path)
        meta = prior.metadata
        file_version = prior.file_version + 1
        version_id = max(prior.versions) + 1
        schemas = list(meta["schemas"])
        versions = list(meta["versions"])
        vlog = list(meta.get("version-log", []))
        view_uuid = meta["view-uuid"]
        props = dict(meta.get("properties", {}))
    else:
        os.makedirs(meta_dir, exist_ok=True)
        file_version = 1
        version_id = 1
        schemas, versions, vlog = [], [], []
        view_uuid = str(uuid.uuid5(uuid.NAMESPACE_URL, path))
        props = {}
    if properties:
        props.update(properties)

    if spark is not None:
        schema = _schema_from_df(spark.sql(sql), schema_id=len(schemas))
    else:
        schema = {"type": "struct", "schema-id": len(schemas), "fields": []}
    # reuse an identical prior schema instead of appending a duplicate
    for s in schemas:
        if {k: v for k, v in s.items() if k != "schema-id"} == {
            k: v for k, v in schema.items() if k != "schema-id"
        }:
            schema = s
            break
    else:
        schemas.append(schema)

    ts = _LOG_EPOCH + file_version
    versions.append(
        {
            "version-id": version_id,
            "schema-id": schema["schema-id"],
            "timestamp-ms": ts,
            "summary": {"operation": "replace" if exists else "create"},
            "representations": [
                {"type": "sql", "sql": sql, "dialect": dialect}
            ],
            "default-namespace": namespace or [],
        }
    )
    vlog.append({"timestamp-ms": ts, "version-id": version_id})
    meta_out = {
        "view-uuid": view_uuid,
        "format-version": 1,
        "location": path,
        "schemas": schemas,
        "current-version-id": version_id,
        "versions": versions,
        "version-log": vlog,
        "properties": props,
    }
    target = os.path.join(meta_dir, f"v{file_version}.metadata.json")
    tmp = target + f".{uuid.uuid4().hex[:8]}.tmp"
    text = metadata_json(meta_out)
    with open(tmp, "w") as f:
        f.write(text)
    # same atomic publish + exclusive-create race check as table commits
    try:
        os.link(tmp, target)
    finally:
        os.unlink(tmp)
    hint_tmp = hint + ".tmp"
    with open(hint_tmp, "w") as f:
        f.write(str(file_version))
    os.replace(hint_tmp, hint)
    return IcebergView(path)
