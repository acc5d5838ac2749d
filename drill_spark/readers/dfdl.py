"""DFDL (Data Format Description Language) subset reader.

Reference: ``contrib/format-daffodil`` — ``DaffodilBatchReader.java``
(table-function options schemaURI/rootName/rootNamespace/validationMode,
root element parsed repeatedly until EOF via ``DaffodilMessageParser``)
and ``DrillDaffodilSchemaUtils.java:46-75`` (DFDL primitive → Drill
minor-type mapping). The reference embeds the Apache Daffodil runtime;
this module implements, from the public DFDL 1.0 spec (OGF GFD-P-R.240),
exactly the subset the reference's own test schemas exercise:

- ``representation="binary"``: fixed-width primitives, big-endian by
  default (``dfdl:byteOrder`` honored when given as a literal);
- ``representation="text"`` + ``lengthKind="delimited"``: sequence
  ``separator``/``terminator`` scanning with DFDL character entities
  (%SP; %NL; %HT; ...), element ``initiator``/``terminator``,
  ``textBooleanTrueRep``/``FalseRep``, per-element ``encoding`` for
  xs:hexBinary text parsing;
- complexType sequences → struct columns; ``maxOccurs`` > 1 or
  ``unbounded`` → array columns with the implicit occursCountKind
  semantics (greedy speculative parse up to maxOccurs, stop cleanly at
  EOF or parse failure); ``occursCountKind="parsed"`` (count discovered
  purely by parsing, min/maxOccurs validation-only, spec §16.1) in both
  representations, text occurrences sharing the sequence separator;
- ``xs:choice`` with the default ``choiceLengthKind="implicit"``
  (spec §15): branches tried in schema order by speculative parsing,
  first success wins; every branch is a nullable column and only the
  chosen one is set (the XML-infoset flattening);
- the root element is parsed repeatedly until EOF — one parse = one row,
  matching the reference's control pattern;
- ``.gz`` payloads are transparently decompressed (the reference test
  reads ``data01Int.dat.gz``).

Type mapping mirrors the reference table: int→int, long→bigint,
short→smallint, byte→tinyint, unsignedInt→bigint, unsignedShort→int
(UINT2), unsignedByte→smallint (UINT1), unsignedLong / integer /
nonNegativeInteger→decimal(38,0) (VARDECIMAL), decimal→string (VARCHAR,
as the reference models it), float/double→double (both FLOAT8 there),
boolean→boolean, hexBinary→binary, string→string, date→date,
dateTime→timestamp, time→string (Drill TIME; rendered like
``LocalTime.toString()``: ``HH:MM`` when seconds are zero).
"""

from __future__ import annotations

import gzip
import re
import struct
from dataclasses import dataclass, field
from datetime import date as _date, datetime as _datetime
from decimal import Decimal
from urllib.parse import urlparse, unquote
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from drill_spark.readers.formats import list_files, scan_files

_XS = "{http://www.w3.org/2001/XMLSchema}"
_DFDL_NS = "http://www.ogf.org/dfdl/dfdl-1.0/"

# DFDL character entities (spec §6.3.1) that appear in delimiters
_ENTITIES = {
    "%SP;": " ",
    "%HT;": "\t",
    "%CR;": "\r",
    "%LF;": "\n",
    "%NL;": "\n",  # canonical; parse side matches \r\n too
    "%WSP;": " ",
    "%%": "%",
}


def _expand_entities(s: str) -> str:
    for k, v in _ENTITIES.items():
        s = s.replace(k, v)
    return s


# ------------------------------------------------------------------ model


@dataclass
class Prim:
    kind: str  # xs local name: int, long, string, ...
    props: dict = field(default_factory=dict)


@dataclass
class Seq:
    children: list = field(default_factory=list)  # list[Elem | Choice]
    separator: str | None = None
    terminator: str | None = None


@dataclass
class Choice:
    """xs:choice: branches are tried in schema order by speculative
    parsing, first success wins (spec §15). In the infoset each branch
    contributes a nullable column; only the chosen one is set.
    choiceLengthKind='implicit' (the default) leaves the cursor where
    the winning branch ends; ='explicit' pins the choice region to
    dfdl:choiceLength units (bytes in binary representation, characters
    in text — exact for the subset's single-byte encodings): a branch
    overrunning the region fails, a shorter one skips the fill."""
    branches: list = field(default_factory=list)  # list[Elem]
    length: int | None = None  # choiceLengthKind='explicit' region size


@dataclass
class Elem:
    name: str
    body: object  # Prim | Seq
    min_occurs: int = 1
    max_occurs: int | None = 1  # None = unbounded
    props: dict = field(default_factory=dict)  # initiator/terminator/...


_BIN_WIDTHS = {
    "int": (4, ">i"), "unsignedInt": (4, ">I"),
    "long": (8, ">q"), "unsignedLong": (8, ">Q"),
    "short": (2, ">h"), "unsignedShort": (2, ">H"),
    "byte": (1, ">b"), "unsignedByte": (1, ">B"),
    "double": (8, ">d"), "float": (4, ">f"),
    "boolean": (4, ">I"),
}


class DfdlSchema:
    """Parsed .dfdl.xsd: global elements + named complex types +
    format defaults from the dfdl:format annotation."""

    def __init__(self, xsd_text: str):
        root = ET.fromstring(xsd_text)
        self.representation = "binary"
        self.byte_order = ">"
        for fmt in root.iter(f"{{{_DFDL_NS}}}format"):
            rep = fmt.get("representation")
            if rep:
                self.representation = rep
            bo = fmt.get("byteOrder")
            if bo == "littleEndian":
                self.byte_order = "<"
        self._types: dict[str, ET.Element] = {}
        self._globals: dict[str, ET.Element] = {}
        for child in root:
            if child.tag == f"{_XS}complexType" and child.get("name"):
                self._types[child.get("name")] = child
            elif child.tag == f"{_XS}element" and child.get("name"):
                self._globals[child.get("name")] = child

    # -- dfdl:* attributes live in the dfdl namespace on the element
    @staticmethod
    def _dfdl_props(el: ET.Element) -> dict:
        props = {}
        for k, v in el.attrib.items():
            if k.startswith(f"{{{_DFDL_NS}}}"):
                props[k.split("}", 1)[1]] = v
        return props

    def root_element(self, root_name: str | None) -> Elem:
        if root_name:
            el = self._globals.get(root_name)
            if el is None:
                raise ValueError(
                    f"rootName {root_name!r} is not a global element in the "
                    f"DFDL schema (have: {sorted(self._globals)})")
        else:
            el = next(iter(self._globals.values()), None)
            if el is None:
                raise ValueError("DFDL schema declares no global elements")
        return self._build_elem(el)

    def _build_elem(self, el: ET.Element) -> Elem:
        name = el.get("name")
        mn = int(el.get("minOccurs", "1"))
        mx_raw = el.get("maxOccurs", "1")
        mx = None if mx_raw == "unbounded" else int(mx_raw)
        props = self._dfdl_props(el)
        tname = el.get("type")
        if tname is not None:
            local = tname.split(":", 1)[-1]
            if tname.startswith("xs:") or local in _PRIM_SPARK:
                return Elem(name, Prim(local, props), mn, mx, props)
            ct = self._types.get(local)
            if ct is None:
                raise ValueError(f"unresolved DFDL type {tname!r}")
            return Elem(name, self._build_seq(ct), mn, mx, props)
        inline = el.find(f"{_XS}complexType")
        if inline is not None:
            return Elem(name, self._build_seq(inline), mn, mx, props)
        raise ValueError(f"element {name!r} has neither type nor complexType")

    def _build_seq(self, ct: ET.Element) -> Seq:
        seq_el = ct.find(f"{_XS}sequence")
        if seq_el is None:
            ch_el = ct.find(f"{_XS}choice")
            if ch_el is not None:  # bare choice content model
                return Seq(children=[self._build_choice(ch_el)])
            raise ValueError(
                "complexType without a sequence or choice is out of subset")
        props = self._dfdl_props(seq_el)
        seq = Seq(
            separator=_expand_entities(props["separator"]) if "separator" in props else None,
            terminator=_expand_entities(props["terminator"]) if "terminator" in props else None,
        )
        for child in seq_el:
            if child.tag == f"{_XS}element":
                seq.children.append(self._build_elem(child))
            elif child.tag == f"{_XS}choice":
                seq.children.append(self._build_choice(child))
        return seq

    def _build_choice(self, ch_el: ET.Element) -> Choice:
        props = self._dfdl_props(ch_el)
        clk = props.get("choiceLengthKind", "implicit")
        length = None
        if clk == "explicit":
            length = int(props["choiceLength"])
        elif clk != "implicit":
            raise NotImplementedError(
                f"dfdl:choiceLengthKind={clk!r} ('implicit'/'explicit' in subset)")
        branches = [self._build_elem(c) for c in ch_el
                    if c.tag == f"{_XS}element"]
        if not branches:
            raise ValueError("xs:choice with no element branches")
        return Choice(branches, length)


# ------------------------------------------------------- spark schema

_PRIM_SPARK = {
    "int": T.IntegerType(),
    "long": T.LongType(),
    "short": T.ShortType(),
    "byte": T.ByteType(),
    "unsignedInt": T.LongType(),
    "unsignedShort": T.IntegerType(),   # Drill UINT2
    "unsignedByte": T.ShortType(),      # Drill UINT1
    "unsignedLong": T.DecimalType(38, 0),
    "integer": T.DecimalType(38, 0),
    "nonNegativeInteger": T.DecimalType(38, 0),
    "decimal": T.StringType(),          # VARCHAR in the reference mapping
    "boolean": T.BooleanType(),
    "double": T.DoubleType(),
    "float": T.DoubleType(),            # FLOAT8 in the reference mapping
    "hexBinary": T.BinaryType(),
    "string": T.StringType(),
    "date": T.DateType(),
    "time": T.StringType(),             # Drill TIME, no Spark TIME type
    "dateTime": T.TimestampType(),
}


def _seq_fields(seq: Seq):
    """Flatten Choice nodes: every branch is a (nullable) field of the
    enclosing struct, mirroring the XML-infoset flattening."""
    for c in seq.children:
        if isinstance(c, Choice):
            yield from c.branches
        else:
            yield c


def _is_array(elem: Elem) -> bool:
    return (elem.max_occurs is None or elem.max_occurs > 1
            or elem.props.get("occursCountKind") in ("parsed", "expression"))


_OCCURS_EXPR = re.compile(r"\{\s*(?:\.\./)?(\w+)\s*\}")


def _occurs_count(elem: Elem, ctx: dict | None) -> int:
    """occursCountKind='expression': evaluate dfdl:occursCount. The
    expression subset is a sibling reference ({ ../n } or { n }) — the
    count-prefixed-array idiom; anything else names itself."""
    expr = elem.props.get("occursCount", "")
    m = _OCCURS_EXPR.fullmatch(expr.strip())
    if not m:
        raise NotImplementedError(
            f"dfdl:occursCount expression {expr!r} is outside the subset "
            "(sibling references like '{ ../n }' only)")
    name = m.group(1)
    if ctx is None or name not in ctx or ctx[name] is None:
        raise _ParseError(
            f"occursCount references {name!r} which is not parsed yet")
    return int(ctx[name])


def _elem_type(elem: Elem) -> T.DataType:
    if isinstance(elem.body, Prim):
        base = _PRIM_SPARK.get(elem.body.kind)
        if base is None:
            raise NotImplementedError(
                f"xs:{elem.body.kind} is outside the implemented DFDL subset")
    else:
        base = T.StructType(
            [T.StructField(c.name, _elem_type(c), True)
             for c in _seq_fields(elem.body)])
    if _is_array(elem):
        return T.ArrayType(base, False)
    return base


def spark_schema(root: Elem) -> T.StructType:
    """The root element's children become the table columns (the
    reference flattens the row element the same way)."""
    if isinstance(root.body, Prim):
        return T.StructType([T.StructField(root.name, _elem_type(root), True)])
    return T.StructType(
        [T.StructField(c.name, _elem_type(c), True)
         for c in _seq_fields(root.body)])


# ------------------------------------------------------------ parsing


class _ParseError(Exception):
    pass


class _BinCursor:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise _ParseError("EOF")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    @property
    def eof(self) -> bool:
        return self.pos >= len(self.data)


def _parse_bin_elem(cur: _BinCursor, elem: Elem, byte_order: str,
                    ctx: dict | None = None):
    if _is_array(elem):
        ock = elem.props.get("occursCountKind")
        if ock == "expression":
            # exact count from a previously-parsed sibling; no speculation
            return [_parse_bin_one(cur, elem, byte_order, ctx)
                    for _ in range(_occurs_count(elem, ctx))]
        out = []
        # occursCountKind='parsed' discovers the count purely by
        # parsing (spec §16.1); min/maxOccurs are validation-only there
        limit = float("inf") if ock == "parsed" else (elem.max_occurs or float("inf"))
        while len(out) < limit:
            mark = cur.pos
            try:
                out.append(_parse_bin_one(cur, elem, byte_order, ctx))
            except _ParseError:
                cur.pos = mark
                break
        if ock != "parsed" and len(out) < elem.min_occurs:
            raise _ParseError(f"{elem.name}: fewer than minOccurs")
        return out
    return _parse_bin_one(cur, elem, byte_order, ctx)


def _parse_choice(cur, choice: Choice, parse_one) -> dict:
    """Speculative first-match-wins branch selection; the chosen branch
    fills its field, the others are null. An explicit choiceLength pins
    the region: overruns fail the branch, shortfalls skip the fill."""
    for br in choice.branches:
        mark = cur.pos
        try:
            val = parse_one(br)
            if choice.length is not None:
                end = mark + choice.length
                if cur.pos > end:
                    raise _ParseError(
                        f"branch {br.name} overran the choiceLength region")
                cur.take(end - cur.pos)  # fill region; EOF fails branch
        except _ParseError:
            cur.pos = mark
            continue
        return {b.name: (val if b is br else None) for b in choice.branches}
    raise _ParseError("no xs:choice branch parsed")


def _parse_bin_one(cur: _BinCursor, elem: Elem, byte_order: str,
                   ctx: dict | None = None):
    if isinstance(elem.body, Prim):
        kind = elem.body.kind
        props = elem.props
        if props.get("lengthKind") == "explicit" and kind in ("string", "hexBinary"):
            raw = cur.take(_explicit_length(props, ctx))  # N BYTES in binary rep
            if kind == "hexBinary":
                return bytes(raw)
            txt = raw.decode(props.get("encoding", "utf-8"))
            if props.get("textPadKind") == "padChar":
                txt = txt.rstrip(props.get("textStringPadCharacter", " "))
            return txt
        spec = _BIN_WIDTHS.get(kind)
        if spec is None:
            raise NotImplementedError(
                f"binary xs:{kind} is outside the implemented DFDL subset")
        width, fmt = spec
        raw = cur.take(width)
        val = struct.unpack(byte_order + fmt[1:], raw)[0]
        if kind == "boolean":
            val = bool(val)
        return val
    out = {}
    for c in elem.body.children:
        if isinstance(c, Choice):
            out.update(_parse_choice(
                cur, c, lambda br: _parse_bin_elem(cur, br, byte_order, out)))
        else:
            out[c.name] = _parse_bin_elem(cur, c, byte_order, out)
    return out


class _TextCursor:
    def __init__(self, text: str):
        self.text = text
        self.pos = 0

    @property
    def eof(self) -> bool:
        return self.pos >= len(self.text)

    def take(self, n: int) -> str:
        if self.pos + n > len(self.text):
            raise _ParseError("EOF in explicit-length field")
        out = self.text[self.pos: self.pos + n]
        self.pos += n
        return out

    def expect(self, lit: str) -> None:
        if lit == "\n":  # %NL; matches any newline on parse
            for cand in ("\r\n", "\n", "\r"):
                if self.text.startswith(cand, self.pos):
                    self.pos += len(cand)
                    return
            raise _ParseError(f"expected newline at {self.pos}")
        if not self.text.startswith(lit, self.pos):
            raise _ParseError(f"expected {lit!r} at {self.pos}")
        self.pos += len(lit)

    def scan_until(self, delims: list[str]) -> str:
        """Text up to the nearest delimiter (not consumed); to EOF when
        no delimiter occurs."""
        best = len(self.text)
        for d in delims:
            cands = ("\r\n", "\n", "\r") if d == "\n" else (d,)
            for c in cands:
                i = self.text.find(c, self.pos)
                if i != -1 and i < best:
                    best = i
        out = self.text[self.pos : best]
        self.pos = best
        return out


def _explicit_length(props: dict, ctx: dict | None = None) -> int:
    """Constant dfdl:length, or a sibling-reference expression
    ({ ../n } / { n }) — the length-prefixed-field idiom, mirroring
    _occurs_count; other expressions name themselves."""
    expr = props.get("length", "")
    if expr.startswith("{"):
        m = _OCCURS_EXPR.fullmatch(expr.strip())
        if not m:
            raise NotImplementedError(
                f"dfdl:length expression {expr!r} is outside the subset "
                "(sibling references like '{ ../n }' only)")
        name = m.group(1)
        if ctx is None or ctx.get(name) is None:
            raise _ParseError(
                f"length references {name!r} which is not parsed yet")
        return int(ctx[name])
    return int(expr)


def _parse_text_one(cur: _TextCursor, elem: Elem, outer_delims: list[str],
                    ctx: dict | None = None):
    props = elem.props
    if isinstance(elem.body, Seq):
        return _parse_text_seq(cur, elem.body, outer_delims)
    if "initiator" in props:
        cur.expect(_expand_entities(props["initiator"]))
    if props.get("lengthKind") == "explicit":
        # fixed-width field: exactly N characters, optional pad strip
        raw = cur.take(_explicit_length(props, ctx))
        if props.get("textPadKind") == "padChar":
            pad = props.get("textStringPadCharacter", " ")
            just = props.get("textStringJustification", "left")
            raw = (raw.rstrip(pad) if just == "left"
                   else raw.lstrip(pad) if just == "right"
                   else raw.strip(pad))
        if "terminator" in props:
            cur.expect(_expand_entities(props["terminator"]))
    elif "terminator" in props:
        term = _expand_entities(props["terminator"])
        raw = cur.scan_until([term])
        cur.expect(term)
    else:
        raw = cur.scan_until(outer_delims)
    try:
        return _text_value(raw, elem.body, props)
    except (ValueError, ArithmeticError) as e:
        # lexical mismatch must be a recoverable parse failure so
        # choice/array speculation can backtrack past it
        raise _ParseError(str(e))


def _parse_text_elem(cur: _TextCursor, elem: Elem, outer_delims: list[str],
                     separator: str | None = None,
                     lead_sep: str | None = None,
                     ctx: dict | None = None):
    if _is_array(elem):
        ock = elem.props.get("occursCountKind")
        if ock == "expression":
            out = []
            for _ in range(_occurs_count(elem, ctx)):
                sep = separator if out else lead_sep
                if sep:
                    cur.expect(sep)
                out.append(_parse_text_one(cur, elem, outer_delims, ctx))
            return out
        limit = float("inf") if ock == "parsed" else (elem.max_occurs or float("inf"))
        out = []
        while len(out) < limit:
            mark = cur.pos
            try:
                # a zero-occurrence array consumes NO separator, so the
                # sequence separator preceding the array (lead_sep) is
                # part of the first occurrence's speculative parse
                sep = separator if out else lead_sep
                if sep:
                    cur.expect(sep)
                out.append(_parse_text_one(cur, elem, outer_delims, ctx))
            except _ParseError:
                cur.pos = mark
                break
        if ock != "parsed" and len(out) < elem.min_occurs:
            raise _ParseError(f"{elem.name}: fewer than minOccurs")
        return out
    return _parse_text_one(cur, elem, outer_delims, ctx)


def _parse_text_seq(cur: _TextCursor, seq: Seq, outer_delims: list[str]):
    in_scope = list(outer_delims)
    if seq.separator:
        in_scope.insert(0, seq.separator)
    if seq.terminator:
        in_scope.insert(0, seq.terminator)
    out = {}
    first = True
    for child in seq.children:
        need_sep = (not first) and seq.separator
        if not isinstance(child, Choice) and _is_array(child):
            out[child.name] = _parse_text_elem(
                cur, child, in_scope, seq.separator,
                lead_sep=seq.separator if need_sep else None, ctx=out)
        else:
            if need_sep:
                cur.expect(seq.separator)
            if isinstance(child, Choice):
                out.update(_parse_choice(
                    cur, child,
                    lambda br: _parse_text_elem(cur, br, in_scope,
                                                seq.separator, ctx=out)))
            else:
                out[child.name] = _parse_text_elem(cur, child, in_scope,
                                                   seq.separator, ctx=out)
        first = False
    if seq.terminator:
        cur.expect(seq.terminator)
    return out


_TZ_RE = re.compile(r"(Z|[+-]\d{2}:?\d{2})$")


def _text_value(raw: str, prim: Prim, props: dict):
    kind = prim.kind
    if kind in ("int", "long", "short", "byte",
                "unsignedInt", "unsignedShort", "unsignedByte"):
        return int(raw)
    if kind in ("unsignedLong", "integer", "nonNegativeInteger"):
        return Decimal(raw)
    if kind == "decimal":
        return raw  # VARCHAR in the reference mapping: keep lexical form
    if kind in ("double", "float"):
        return float(raw)
    if kind == "boolean":
        true_rep = props.get("textBooleanTrueRep", "true")
        false_rep = props.get("textBooleanFalseRep", "false")
        if raw == true_rep:
            return True
        if raw == false_rep:
            return False
        raise _ParseError(f"boolean rep {raw!r} matches neither "
                          f"{true_rep!r} nor {false_rep!r}")
    if kind == "hexBinary":
        # text hexBinary: the characters re-encoded with the declared
        # charset ARE the bytes (the reference's moreTypes1 fixture)
        return raw.encode(props.get("encoding", "iso-8859-1"))
    if kind == "string":
        return raw
    if kind == "date":
        return _date.fromisoformat(raw)
    if kind == "time":
        t = _TZ_RE.sub("", raw)
        hh, mm, *rest = t.split(":")
        sec = rest[0] if rest else "00"
        # LocalTime.toString() convention (what Drill's TIME renders):
        # seconds omitted when zero
        return f"{hh}:{mm}" if float(sec) == 0 else f"{hh}:{mm}:{sec}"
    if kind == "dateTime":
        t = _TZ_RE.sub("", raw.replace("+0000", ""))
        return _datetime.fromisoformat(t)
    raise NotImplementedError(f"text xs:{kind} is outside the subset")


# ------------------------------------------------------------- reader


def _resolve_schema_path(schema_uri: str) -> str:
    if schema_uri.startswith("file:"):
        return unquote(urlparse(schema_uri).path)
    return schema_uri


def parse_dfdl_file(data: bytes, schema: DfdlSchema, root: Elem) -> list[dict]:
    """Parse one data file: the root element repeatedly until EOF
    (DaffodilMessageParser's loop)."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    rows: list[dict] = []
    if schema.representation == "text":
        cur = _TextCursor(data.decode("utf-8"))
        while not cur.eof:
            val = _parse_text_elem(cur, Elem(root.name, root.body, props=root.props), [])
            rows.append(val if isinstance(val, dict) else {root.name: val})
        return rows
    bcur = _BinCursor(data)
    while not bcur.eof:
        val = _parse_bin_one(bcur, root, schema.byte_order)
        rows.append(val if isinstance(val, dict) else {root.name: val})
    return rows


def read_dfdl(
    spark: SparkSession,
    path: str,
    schema_uri: str,
    root_name: str | None = None,
    root_namespace: str | None = None,
    validation_mode: bool = False,
) -> DataFrame:
    """Distributed DFDL read: schema compiled once on the driver (tiny
    XSD parse, like the reference's compiled-DataProcessor reuse), files
    parsed in executors via mapInPandas."""
    import pandas as pd

    del root_namespace, validation_mode  # accepted for option parity

    xsd_path = _resolve_schema_path(schema_uri)
    with open(xsd_path) as f:
        xsd_text = f.read()
    schema = DfdlSchema(xsd_text)
    root = schema.root_element(root_name)
    out_schema = spark_schema(root)

    files = list_files(path, "daffodil")

    names = [f.name for f in out_schema.fields]

    def decode(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                with open(fpath, "rb") as fh:
                    data = fh.read()
                rows = parse_dfdl_file(data, schema, root)
                yield pd.DataFrame(
                    {n: [r.get(n) for r in rows] for n in names},
                    dtype=object,
                ) if rows else pd.DataFrame({n: [] for n in names})

    return scan_files(spark, files, decode, out_schema)


# ------------------------------------------------------------- writer
# (fixture generator for the oracle-backed scan query; spec-built, so
# tests of the reader don't depend on the reader)


def write_dfdl_ints(rows: list[tuple[int, ...]], out_path: str) -> None:
    """Binary big-endian xs:int rows, the reference data0NInt.dat shape."""
    with open(out_path, "wb") as f:
        for row in rows:
            for v in row:
                f.write(struct.pack(">i", v))


DFDL_TWO_INT_XSD = """<?xml version="1.0" encoding="UTF-8"?>
<schema xmlns:xs="http://www.w3.org/2001/XMLSchema"
        xmlns="http://www.w3.org/2001/XMLSchema"
        xmlns:dfdl="http://www.ogf.org/dfdl/dfdl-1.0/"
        xmlns:ex="http://example.com"
        targetNamespace="http://example.com">
  <annotation><appinfo source="http://www.ogf.org/dfdl/">
    <dfdl:format representation="binary"/>
  </appinfo></annotation>
  <element name="row" type="ex:rowType"/>
  <complexType name="rowType">
    <sequence>
      <element name="a1" type="xs:int"/>
      <element name="a2" type="xs:int"/>
    </sequence>
  </complexType>
</schema>
"""
