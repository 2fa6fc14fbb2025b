"""Table metadata is written as compact JSON through one encoder
(``metadata.metadata_json``), and tables written in the earlier indented
format stay readable and writable.  Spark-free."""

from __future__ import annotations

import glob
import json
import os
from decimal import Decimal

import pytest

from daskberg_spark.iceberg import writer as writer_mod
from daskberg_spark.iceberg.metadata import IcebergTable, metadata_json
from daskberg_spark.iceberg.writer import IcebergWriter

_FIELDS = [
    {"id": 1, "name": "k", "type": "long", "required": False},
    {"id": 2, "name": "s", "type": "string", "required": False},
]


def _versions(path: str) -> dict[int, str]:
    files = glob.glob(os.path.join(path, "metadata", "v*.metadata.json"))
    return {int(os.path.basename(f)[1:].split(".")[0]): f for f in files}


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def _history_table(path: str) -> IcebergWriter:
    """Several commits, a schema change, a tag, a statistics publish and
    a property change: one metadata version each."""
    from daskberg_spark.iceberg.statsblobs import publish_blobs

    w = IcebergWriter(path, _FIELDS)
    w.append([{"k": i, "s": f"s{i}"} for i in range(5)])
    w.append([{"k": -i, "s": None} for i in range(3)])
    w.add_column("d", "double")
    w.append([{"k": 9, "s": "é", "d": 1.5}])
    w.set_ref("release", "tag")
    head = w.head_snapshot["snapshot-id"]
    blob = {
        "type": "daskberg-test-blob",
        "fields": [1],
        "snapshot-id": head,
        "sequence-number": w._last_sequence_number,
        "properties": {"note": "x"},
        "data": b"\x00\x01",
    }
    publish_blobs(w, "stats", head, "test", [blob])
    w.set_properties({"write.target-file-size-bytes": "1024"})
    return w


def test_metadata_json_is_compact():
    meta = {"a": [1, {"b": "c d"}], "e": None, "u": "é", "x": 1.5}
    text = metadata_json(meta)
    assert text == '{"a":[1,{"b":"c d"}],"e":null,"u":"\\u00e9","x":1.5}'
    assert json.loads(text) == meta
    # values JSON cannot encode are written as str, as the indented writer did
    assert json.loads(metadata_json({"p": Decimal("1.50")})) == {"p": "1.50"}


def test_every_version_compact_and_same_content(tmp_path, monkeypatch):
    """Each ``v*.metadata.json`` is one compact line whose parsed content
    equals what the indented writer produced from the same state."""
    built: list[object] = []
    encode = writer_mod.metadata_json

    def recording(meta):
        built.append(json.loads(json.dumps(meta, indent=1, default=str)))
        return encode(meta)

    monkeypatch.setattr(writer_mod, "metadata_json", recording)
    w = _history_table(str(tmp_path / "t"))
    versions = _versions(w.path)
    assert sorted(versions) == list(range(1, len(built) + 1))
    assert len(built) == 7  # 3 appends, schema, ref, statistics, properties
    for v, f in versions.items():
        text = _read(f)
        assert "\n" not in text and '": ' not in text, f
        assert json.loads(text) == built[v - 1], f
    last = json.loads(_read(versions[max(versions)]))
    assert "release" in last["refs"] and last["statistics"]
    assert last["properties"]["write.target-file-size-bytes"] == "1024"
    assert len(last["schemas"]) == 2


def _indent_all(path: str) -> None:
    """Rewrite every version in the pre-compact format."""
    for f in _versions(path).values():
        meta = json.loads(_read(f))
        with open(f, "w") as out:
            json.dump(meta, out, indent=1, default=str)


def test_indented_versions_still_open_and_commit(tmp_path):
    """A table whose versions are in the earlier ``indent=1`` format
    opens through ``IcebergTable`` and ``IcebergWriter.load`` with the
    same snapshots and takes a further, compact commit."""
    w = _history_table(str(tmp_path / "t"))
    before = IcebergTable(w.path)
    snaps, files = before.snapshots, sorted(before.scan_all()[0])
    _indent_all(w.path)
    assert all("\n" in _read(f) for f in _versions(w.path).values())

    t = IcebergTable(w.path)
    assert t.snapshots == snaps
    assert sorted(t.scan_all()[0]) == files
    w2 = IcebergWriter.load(w.path)
    assert w2.snapshots == w.snapshots
    assert w2.refs == w.refs and w2.statistics == w.statistics
    assert w2.properties == w.properties
    w2.append([{"k": 100, "s": "new", "d": 2.0}])

    versions = _versions(w.path)
    newest = _read(versions[max(versions)])
    assert "\n" not in newest
    t2 = IcebergTable(w.path)
    assert set(snaps) < set(t2.snapshots) and len(t2.snapshots) == len(snaps) + 1
    assert len(t2.scan_all()[0]) == len(files) + 1
    # the metadata log still names every earlier version
    assert [e["metadata-file"] for e in json.loads(newest)["metadata-log"]] == [
        versions[v] for v in sorted(versions)[:-1]
    ]


@pytest.mark.parametrize("forge", ["strip_schema_ids", "remap_snapshot_ids"])
def test_fixture_rewrites_are_compact(tmp_path, forge):
    """The fixture forgers rewrite metadata through the same encoder."""
    from daskberg_spark.iceberg import fixtures

    w = _history_table(str(tmp_path / "t"))
    remap = {s["snapshot-id"]: 10**12 + i for i, s in enumerate(w.snapshots)}
    if forge == "strip_schema_ids":
        fixtures.strip_schema_ids(w.path)
    else:
        fixtures.remap_snapshot_ids(w.path, remap)
    for f in _versions(w.path).values():
        text = _read(f)
        assert "\n" not in text and '": ' not in text, f
        snaps = json.loads(text)["snapshots"]
        if forge == "strip_schema_ids":
            assert all("schema-id" not in s for s in snaps), f
        else:
            assert {s["snapshot-id"] for s in snaps} <= set(remap.values()), f
