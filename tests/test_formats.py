"""The file-format table (readers/formats.py): suffix and table-format
inference for every row, alias lookup, strict option binding, the
table-format statements on a directory that is no table, and the
``read_auto`` module attribute every path read goes through."""

from __future__ import annotations

import pytest

from drill_spark.readers import formats
from drill_spark.readers.formats import FORMATS

SUFFIXES = [(name, suf) for name, row in FORMATS.items() for suf in row.suffixes]
ALIASES = [(alias, name) for name, row in FORMATS.items() for alias in row.names]


@pytest.mark.parametrize("name, suffix", SUFFIXES)
def test_every_suffix_infers_its_row(tmp_path, name, suffix):
    f = tmp_path / f"part-0{suffix}"
    f.write_bytes(b"")
    assert formats.infer_format(str(f), "none") == name
    assert formats.infer_format(str(tmp_path), "none") == name
    upper = tmp_path / f"UPPER{suffix.upper()}"
    assert formats.infer_format(str(upper), "none") == name


@pytest.mark.parametrize("marker, entry, name", [
    ("_delta_log", "00000000000000000000.json", "delta"),
    ("snapshot", "snapshot-1", "paimon"),
    ("snapshot", "LATEST", "paimon"),
    ("metadata", "v1.metadata.json", "iceberg"),
])
def test_table_formats_win_over_suffixes(tmp_path, marker, entry, name):
    t = tmp_path / "t.parquet"
    t.mkdir()
    (t / "part-0.parquet").write_bytes(b"")
    assert formats.infer_format(str(t), "none") == "parquet"
    (t / marker).mkdir()
    (t / marker / entry).write_text("{}")
    assert formats.infer_format(str(t), "none") == name


def test_empty_marker_directories_are_no_table(tmp_path):
    (tmp_path / "snapshot").mkdir()
    (tmp_path / "metadata").mkdir()
    (tmp_path / "metadata" / "snap-1.avro").write_bytes(b"")
    assert formats.infer_format(str(tmp_path), "none") == "avro"


def test_nothing_recognized_gives_the_default(tmp_path):
    (tmp_path / "k=1").mkdir()
    (tmp_path / "k=1" / "data.bin").write_bytes(b"")
    assert formats.infer_format(str(tmp_path), "parquet") == "parquet"
    (tmp_path / "k=1" / "data.orc").write_bytes(b"")
    assert formats.infer_format(str(tmp_path), "parquet") == "orc"


@pytest.mark.parametrize("alias, name", ALIASES)
def test_every_alias_resolves_to_its_row(alias, name):
    assert formats.row(alias) is FORMATS[name]
    assert formats.row(alias.upper()) is FORMATS[name]


def test_unknown_names_are_spark_sources():
    row = formats.row("libsvm")
    assert row.spark == "libsvm" and row.bind({"numFeatures": "3"}) == {
        "fmt": "libsvm", "options": {"numFeatures": "3"}}


def test_flag_is_strict():
    assert [formats.flag(v) for v in ("true", "YES", "1", "on", "Off", "no", "0")] == [
        True, True, True, True, False, False, False]
    for bad in ("ture", "", "2", "enabled"):
        with pytest.raises(ValueError, match="expected true or false"):
            formats.flag(bad)


def test_list_files_rule(tmp_path):
    (tmp_path / "b").mkdir()
    (tmp_path / ".hidden").mkdir()
    for rel in ("b/2.PCAP", "a.pcap", "b/1.pcap", ".x.pcap", ".hidden/3.pcap", "notes.txt"):
        (tmp_path / rel).write_bytes(b"")
    d = str(tmp_path)
    want = [f"{d}/a.pcap", f"{d}/b/1.pcap", f"{d}/b/2.PCAP"]
    assert formats.list_files(d, "pcap") == want
    assert formats.list_files(f"{d}/*", "pcap") == want
    assert formats.list_files(f"{d}/notes.txt", "pcap") == [f"{d}/notes.txt"]
    assert formats.list_files(["z", "y"], "pcap") == ["z", "y"]
    with pytest.raises(FileNotFoundError, match=f"no pcapng files at {d}"):
        formats.list_files(d, "pcapng")


@pytest.fixture
def fsession(spark, tmp_path):
    from drill_spark.session import DrillSession

    s = DrillSession(spark=spark)
    s.register_workspace("dfs.ft", str(tmp_path), "parquet")
    s.workspaces["dfs.ft"].writable = True
    yield s
    s.close()


def test_native_formats_reject_unknown_options(fsession, tmp_path):
    (tmp_path / "c.pcapng").write_bytes(b"")
    with pytest.raises(ValueError,
                       match=r"pcapng: unknown option\(s\) stats; accepted: stat"):
        fsession.sql(
            "select * from table(dfs.ft.`c.pcapng`(type => 'pcapng', stats => 'true'))")


def test_flag_options_reject_typos(fsession, tmp_path):
    (tmp_path / "t.pdf").write_bytes(b"")
    (tmp_path / "t.csv").write_text("a,b\n1,2\n")
    with pytest.raises(ValueError, match=(
            r"pdf: bad value for option `combinePages` => 'ture': "
            r"expected true or false")):
        fsession.sql(
            "select * from table(dfs.ft.`t.pdf`(type => 'pdf', combinePages => 'ture'))")
    with pytest.raises(ValueError, match=r"csv: bad value for option `extractHeader`"):
        fsession.sql(
            "select * from table(dfs.ft.`t.csv`(type => 'text', extractHeader => 'yess'))")
    rows = fsession.sql(
        "select * from table(dfs.ft.`t.csv`(type => 'text', extractHeader => 'on'))").collect()
    assert [r.asDict() for r in rows] == [{"a": "1", "b": "2"}]


@pytest.mark.parametrize("stmt, exc, msg", [
    ("merge into dfs.ft.`plain` as t using (select 1 as id) src on t.id = src.id "
     "when matched then delete", NotImplementedError,
     "MERGE needs a delta or iceberg table"),
    ("update dfs.ft.`plain` set id = 2 where id = 1", NotImplementedError,
     "UPDATE needs a delta, iceberg or paimon-PK table "
     "(plain parquet: rewrite via CTAS)"),
    ("delete from dfs.ft.`plain` where id = 1", NotImplementedError,
     "DELETE needs a delta, iceberg or paimon-PK table (plain parquet "
     "files are immutable — rewrite via CTAS instead)"),
    ("describe history dfs.ft.`plain`", ValueError,
     "DESCRIBE HISTORY needs a delta or iceberg table: {path}"),
])
def test_table_statements_on_plain_directory(fsession, spark, tmp_path, stmt, exc, msg):
    path = str(tmp_path / "plain")
    spark.range(3).write.parquet(path)
    with pytest.raises(exc) as e:
        fsession.sql(stmt)
    assert str(e.value) == msg.format(path=path)


def test_insert_into_plain_directory_appends_through_spark(fsession, spark, tmp_path):
    path = str(tmp_path / "plain")
    spark.range(3).write.parquet(path)
    fsession.sql("insert into dfs.ft.`plain` select cast(7 as bigint) as id")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [0, 1, 2, 7]


def test_path_reads_go_through_the_read_auto_attribute(fsession, monkeypatch, tmp_path):
    """A tracer wraps ``readers.files.read_auto`` by name, so every path
    read must look the attribute up at call time."""
    from drill_spark import catalog, sqlfront
    from drill_spark.readers import files

    seen = []
    read_auto = files.read_auto

    def counting(spark, path, *a, **kw):
        seen.append(path)
        return read_auto(spark, path, *a, **kw)

    monkeypatch.setattr(files, "read_auto", counting)
    p = str(tmp_path / "t.json")
    with open(p, "w") as f:
        f.write('{"a": 1}\n')
    assert fsession.sql(f"select a from dfs.`{p}`").collect()[0].a == 1
    assert fsession.sql("select a from dfs.ft.`t.json`").collect()[0].a == 1
    assert sqlfront._resolve_input(fsession, p).collect()[0].a == 1
    assert catalog.resolve_table(fsession, p).collect()[0].a == 1
    assert seen == [p] * 4
