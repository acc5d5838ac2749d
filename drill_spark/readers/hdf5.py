"""HDF5 format reader — classic- and new-layout HDF5 files as tables.

Drill reference: contrib/format-hdf5 (store/hdf5/HDF5BatchReader.java,
jhdf-backed) emits one row per object with path / data_type /
file_name / data_size / element_count / dataset_data_type /
dimensions / typed data columns (``int_data``/``long_data``/
``float_data``/``double_data``...) / is_link, and a ``defaultPath``
option that projects a single dataset as rows and ``<type>_col_N``
columns. The HDF5 on-disk structure is publicly specified (the HDF5
File Format Specification); this module implements the classic
subset those semantics need:

- superblock v0 (8-byte offsets) and v2/v3;
- v1 object headers with continuation blocks; dataspace v1/v2,
  datatype classes fixed-point / float / fixed string, data layout
  v3 (compact, contiguous, chunked) and v1/v2, filter pipeline with
  deflate, symbol-table message for old-style groups;
- group traversal: v1 B-tree (``TREE`` node type 0) → ``SNOD``
  symbol nodes → link names in the ``HEAP`` local heap;
- chunked datasets: v1 B-tree node type 1 keyed by chunk offset,
  per-chunk deflate, assembled with numpy and clipped to the
  dataspace bounds;
- NEW-layout files (recent libver settings): v2 ``OHDR`` object
  headers with ``OCHK`` continuations, link-message (compact) groups,
  and dense groups — link records enumerated through the name-index
  version-2 B-tree (``BTHD``/``BTIN``/``BTLF``, depth ≤ 1) into the
  fractal heap (``FRHP``, direct root or one indirect level).

Vlen and compound datatypes ARE decoded (global-heap indirection and
member-wise struct unpack). Anything outside the subset (multi-level
v2 B-trees, filtered/huge/tiny fractal-heap objects) raises
``NotImplementedError`` naming the structure — never silent rows.

Schema deviation from the reference, on purpose: Spark columns are
one type per column, so ``int_data``/``float_data``/... are always
``array<array<T>>`` — a 1-D dataset arrives as one inner list (the
reference writes 1-D flat and 2-D nested in the same column, which a
static schema cannot express).

Validated against the reference plugin's own .h5 fixtures (dset /
scalar / non-scalar / browsing), reproducing TestHDF5Format's rows.

Scale shape: one mapInPandas task per file (HDF5 is a pointer-dense
single-file structure; file-level parallelism is the realistic unit,
as in the reference's one-reader-per-file)."""

from __future__ import annotations

import os
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from drill_spark.readers.formats import list_files, scan_files

SIGNATURE = b"\x89HDF\r\n\x1a\n"


class _FractalHeap:
    """Fractal heap (spec III.F) — managed objects only, which is what
    dense groups and dense attributes store. Supports a direct root
    block and one level of indirect root (direct children), the shapes
    libhdf5 emits until heaps grow past max-direct-rows."""

    def __init__(self, d: bytes, addr: int):
        self.d = d
        if d[addr:addr + 4] != b"FRHP":
            raise ValueError("bad fractal heap signature")
        pos = addr + 4 + 1  # version
        self.id_len = struct.unpack_from("<H", d, pos)[0]
        io_filter_len = struct.unpack_from("<H", d, pos + 2)[0]
        self.flags = d[pos + 4]
        pos += 5
        pos += 4 + 12 * 8  # max-managed-size + the 12 length/count fields
        self.table_width, = struct.unpack_from("<H", d, pos)
        pos += 2
        self.start_block_size, self.max_direct_size = struct.unpack_from("<QQ", d, pos)
        pos += 16
        self.max_heap_bits, = struct.unpack_from("<H", d, pos)
        pos += 2
        self.start_rows, = struct.unpack_from("<H", d, pos)
        pos += 2
        self.root_addr, = struct.unpack_from("<Q", d, pos)
        pos += 8
        self.cur_rows, = struct.unpack_from("<H", d, pos)
        if io_filter_len:
            raise NotImplementedError("filtered fractal heap")
        self.off_bytes = (self.max_heap_bits + 7) // 8
        # block map: heap-space offset -> (file addr, size)
        self.blocks: list[tuple[int, int, int]] = []
        if self.cur_rows == 0:  # root IS a direct block
            self._add_direct(self.root_addr, self.start_block_size)
        else:
            self._walk_indirect(self.root_addr, self.cur_rows)

    def _row_size(self, row: int) -> int:
        return self.start_block_size * (1 << max(0, row - 1))

    def _add_direct(self, addr: int, size: int) -> None:
        d = self.d
        if d[addr:addr + 4] != b"FHDB":
            raise ValueError("bad fractal heap direct block")
        off = int.from_bytes(d[addr + 13:addr + 13 + self.off_bytes], "little")
        self.blocks.append((off, addr, size))

    def _walk_indirect(self, addr: int, nrows: int) -> None:
        d = self.d
        if d[addr:addr + 4] != b"FHIB":
            raise ValueError("bad fractal heap indirect block")
        pos = addr + 4 + 1 + 8 + self.off_bytes
        for row in range(nrows):
            size = self._row_size(row)
            for _ in range(self.table_width):
                caddr, = struct.unpack_from("<Q", d, pos)
                pos += 8
                if caddr == 0xFFFFFFFFFFFFFFFF:
                    continue
                if size <= self.max_direct_size:
                    self._add_direct(caddr, size)
                else:
                    raise NotImplementedError("nested indirect fractal heap blocks")

    def managed_object(self, heap_id: bytes) -> bytes:
        flags = heap_id[0]
        if (flags >> 4) & 0x03 != 0:
            raise NotImplementedError("huge/tiny fractal heap objects")
        off = int.from_bytes(heap_id[1:1 + self.off_bytes], "little")
        ln_bytes = len(heap_id) - 1 - self.off_bytes
        ln = int.from_bytes(heap_id[1 + self.off_bytes:], "little") if ln_bytes else 0
        for boff, baddr, bsize in self.blocks:
            if boff <= off < boff + bsize:
                start = baddr + (off - boff)
                return self.d[start:start + ln]
        raise ValueError(f"heap offset {off} not in any direct block")


class _H5:
    def __init__(self, data: bytes):
        self.d = data
        if data[:8] != SIGNATURE:
            raise ValueError("not an HDF5 file (bad signature)")
        ver = data[8]
        if ver == 0:
            if data[13] != 8 or data[14] != 8:
                raise NotImplementedError("HDF5 non-8-byte offsets/lengths")
            (self.root,) = struct.unpack_from("<Q", data, 56 + 8)
        elif ver in (2, 3):
            if data[9] != 8 or data[10] != 8:
                raise NotImplementedError("HDF5 non-8-byte offsets/lengths")
            (self.root,) = struct.unpack_from("<Q", data, 36)
        else:
            raise NotImplementedError(f"HDF5 superblock version {ver}")
        self.objects: list[dict] = []
        self._seen: set[int] = set()
        self._walk(self.root, "/")

    # ------------------------------------------------------ object header
    def _messages(self, addr: int) -> list[tuple[int, bytes]]:
        d = self.d
        if d[addr : addr + 4] == b"OHDR":
            return self._messages_v2(addr)
        ver, _, nmsgs, _refs, hsize = struct.unpack_from("<BBHII", d, addr)
        if ver != 1:
            raise NotImplementedError(f"HDF5 object header version {ver}")
        blocks = [(addr + 16, hsize)]
        out: list[tuple[int, bytes]] = []
        while blocks and len(out) < nmsgs:
            pos, remaining = blocks.pop(0)
            while remaining >= 8 and len(out) < nmsgs:
                mtype, msize, _flags = struct.unpack_from("<HHB", d, pos)
                body = d[pos + 8 : pos + 8 + msize]
                pos += 8 + msize
                remaining -= 8 + msize
                if mtype == 0x0010:  # continuation
                    coff, clen = struct.unpack_from("<QQ", body, 0)
                    blocks.append((coff, clen))
                else:
                    out.append((mtype, body))
        return out

    def _messages_v2(self, addr: int) -> list[tuple[int, bytes]]:
        """V2 ("OHDR") object header: flag-sized chunk-0 length,
        optional times / phase-change fields, OCHK continuations."""
        d = self.d
        pos = addr + 4
        _ver, flags = d[pos], d[pos + 1]
        pos += 2
        if flags & 0x20:
            pos += 16  # access/mod/change/birth times
        if flags & 0x10:
            pos += 4  # max-compact / min-dense attribute counts
        w = 1 << (flags & 0x03)
        size0 = int.from_bytes(d[pos:pos + w], "little")
        pos += w
        track = bool(flags & 0x04)
        hl = 6 if track else 4  # msg header: type(1) size(2) flags(1) [order(2)]
        out: list[tuple[int, bytes]] = []
        blocks = [(pos, size0)]
        while blocks:
            bpos, bsize = blocks.pop(0)
            end = bpos + bsize
            while bpos + hl <= end:
                mtype = d[bpos]
                msize = int.from_bytes(d[bpos + 1:bpos + 3], "little")
                body = d[bpos + hl:bpos + hl + msize]
                bpos += hl + msize
                if mtype == 0x10:
                    coff, clen = struct.unpack_from("<QQ", body, 0)
                    # continuation block: "OCHK" + messages + checksum(4)
                    if d[coff:coff + 4] == b"OCHK":
                        blocks.append((coff + 4, clen - 8))
                elif mtype == 0x00 and msize == 0:
                    continue  # NIL gap
                else:
                    out.append((mtype, body))
        return out

    # ----------------------------------------------------------- groups
    def _heap_str(self, heap_data_addr: int, off: int) -> str:
        d = self.d
        end = d.index(b"\x00", heap_data_addr + off)
        return d[heap_data_addr + off : end].decode("utf-8")

    def _walk(self, addr: int, path: str):
        if addr >= len(self.d):  # undefined address: soft/external link
            self.objects.append({"path": path, "kind": "LINK"})
            return
        if addr in self._seen:
            return
        self._seen.add(addr)
        msgs = self._messages(addr)
        types = {t for t, _ in msgs}
        attrs = {}
        for t, b in msgs:
            if t == 0x000C:
                try:
                    k, v = self._attribute(b)
                    attrs[k] = v
                except (NotImplementedError, ValueError, struct.error):
                    pass  # attribute metadata is best-effort, never fatal
        if 0x0011 in types:  # symbol table -> group
            self.objects.append({"path": path, "kind": "GROUP", "attrs": attrs})
            (body,) = (b for t, b in msgs if t == 0x0011)
            btree, heap = struct.unpack_from("<QQ", body, 0)
            hd = self.d
            if hd[heap : heap + 4] != b"HEAP":
                raise ValueError("bad local heap signature")
            (heap_data,) = struct.unpack_from("<Q", hd, heap + 24)
            for name_off, child in self._group_entries(btree):
                name = self._heap_str(heap_data, name_off)
                child_path = (path.rstrip("/") + "/" + name) or "/"
                self._walk(child, child_path)
        elif {0x0002, 0x0006} & types:
            # new-style group: compact links live as 0x06 messages in
            # the header; dense links live in the link-info message's
            # fractal heap, enumerated through the name-index v2 B-tree
            self.objects.append({"path": path, "kind": "GROUP", "attrs": attrs})
            links: list[tuple[str, int]] = []
            for t, b in msgs:
                if t == 0x0006:
                    lk = self._parse_link(b)
                    if lk is not None:
                        links.append(lk)
            for t, b in msgs:
                if t == 0x0002:
                    links.extend(self._dense_links(b))
            for name, child in links:
                self._walk(child, path.rstrip("/") + "/" + name)
        else:
            obj = self._dataset(path, msgs)
            obj["attrs"] = attrs
            self.objects.append(obj)

    _UNDEF = 0xFFFFFFFFFFFFFFFF

    def _parse_link(self, b: bytes):
        """Link message (spec IV.A.2.g) -> (name, object header addr);
        None for soft/external links (recorded as LINK by the caller
        via an undefined address would lose the name — skip instead)."""
        pos = 0
        _ver, flags = b[pos], b[pos + 1]
        pos += 2
        ltype = 0
        if flags & 0x08:
            ltype = b[pos]
            pos += 1
        if flags & 0x04:
            pos += 8  # creation order
        if flags & 0x10:
            pos += 1  # charset
        nw = 1 << (flags & 0x03)
        nlen = int.from_bytes(b[pos:pos + nw], "little")
        pos += nw
        name = b[pos:pos + nlen].decode("utf-8", "replace")
        pos += nlen
        if ltype == 0:  # hard
            (addr,) = struct.unpack_from("<Q", b, pos)
            return name, addr
        return None  # soft (1) / external (64): no object header here

    def _dense_links(self, linkinfo: bytes):
        """Link Info message: fractal heap + name-index v2 B-tree."""
        pos = 2  # version, flags
        if linkinfo[1] & 0x01:
            pos += 8  # max creation index
        fheap, name_btree = struct.unpack_from("<QQ", linkinfo, pos)
        if fheap == self._UNDEF or name_btree == self._UNDEF:
            return
        heap = self._fractal_heap(fheap)
        for rec in self._v2_btree_records(name_btree):
            # name-index record (type 5): hash(4) + heap id
            blob = heap.managed_object(rec[4:4 + heap.id_len])
            lk = self._parse_link(blob)
            if lk is not None:
                yield lk

    def _fractal_heap(self, addr: int) -> "_FractalHeap":
        return _FractalHeap(self.d, addr)

    def _v2_btree_records(self, addr: int):
        """Walk a version-2 B-tree (BTHD/BTIN/BTLF), yielding raw
        records; depth 0 and 1 cover the group sizes libhdf5 writes
        before multi-level splits (thousands of links)."""
        d = self.d
        if d[addr:addr + 4] != b"BTHD":
            raise ValueError("bad v2 B-tree header signature")
        _ver, _typ = d[addr + 4], d[addr + 5]
        node_size, rec_size, depth = struct.unpack_from("<IHH", d, addr + 6)
        root_addr, root_nrec = struct.unpack_from("<QH", d, addr + 16)

        def leaf(node, nrec):
            if d[node:node + 4] != b"BTLF":
                raise ValueError("bad BTLF signature")
            base = node + 6
            for i in range(nrec):
                yield d[base + i * rec_size: base + (i + 1) * rec_size]

        if depth == 0:
            yield from leaf(root_addr, root_nrec)
            return
        if depth > 1:
            raise NotImplementedError("HDF5 v2 B-tree depth > 1")
        # internal root: records + child pointers (addr 8B + nrec nB)
        if d[root_addr:root_addr + 4] != b"BTIN":
            raise ValueError("bad BTIN signature")
        # child nrec width: max records a leaf can hold fits in n bytes
        cap = (node_size - 10) // rec_size
        nw = max(1, (cap.bit_length() + 7) // 8)
        base = root_addr + 6
        recs = [d[base + i * rec_size: base + (i + 1) * rec_size] for i in range(root_nrec)]
        pos = base + root_nrec * rec_size
        kids = []
        for _ in range(root_nrec + 1):
            (caddr,) = struct.unpack_from("<Q", d, pos)
            pos += 8
            cnrec = int.from_bytes(d[pos:pos + nw], "little")
            pos += nw
            kids.append((caddr, cnrec))
        for i, (caddr, cnrec) in enumerate(kids):
            yield from leaf(caddr, cnrec)
            if i < len(recs):
                yield recs[i]

    def _group_entries(self, btree_addr: int):
        d = self.d
        sig = d[btree_addr : btree_addr + 4]
        if sig == b"SNOD":
            nsyms = struct.unpack_from("<H", d, btree_addr + 6)[0]
            for i in range(nsyms):
                e = btree_addr + 8 + i * 40
                name_off, objhdr = struct.unpack_from("<QQ", d, e)
                yield name_off, objhdr
            return
        if sig != b"TREE":
            raise ValueError(f"bad group B-tree signature {sig!r}")
        _ntype, level, nentries = struct.unpack_from("<BBH", d, btree_addr + 4)
        pos = btree_addr + 8 + 16  # skip left/right siblings
        pos += 8  # key 0
        for _ in range(nentries):
            (child,) = struct.unpack_from("<Q", d, pos)
            pos += 16  # child + next key
            yield from self._group_entries(child)

    # ----------------------------------------------------------- dataset
    def _dataset(self, path: str, msgs) -> dict:
        dims: list[int] = []
        dtype = None
        layout = None
        filters: list[int] = []
        unsupported = None
        for t, b in msgs:
            if t == 0x0001:  # dataspace
                ver, rank = b[0], b[1]
                off = 8 if ver == 1 else 4
                dims = list(struct.unpack_from(f"<{rank}Q", b, off))
            elif t == 0x0003:
                try:
                    dtype = self._datatype(b)
                except NotImplementedError as e:
                    # metadata row still emitted; data columns stay null
                    # (the honest middle between aborting the whole file
                    # and fabricating values)
                    unsupported = str(e)
            elif t == 0x0008:
                layout = self._layout(b)
            elif t == 0x000B:
                nf = b[0 if b[0] > 1 else 1]  # v1: ver, nfilters; v2: ver, nfilters
                ver = b[0]
                nfilters = b[1]
                pos = 8 if ver == 1 else 2
                for _ in range(nfilters):
                    fid, namelen, _fl, ncdv = struct.unpack_from("<HHHH", b, pos)
                    pos += 8 + (namelen + 7) // 8 * 8 if ver == 1 and namelen else 8 + namelen
                    pos += 4 * ncdv
                    if ver == 1 and ncdv % 2:
                        pos += 4
                    filters.append(fid)
        if layout is None and not dims and (dtype is not None or unsupported):
            # committed (named) datatype object — a type, not data
            return {"path": path, "kind": "DATATYPE", "dims": [], "dtype": dtype,
                    "nbytes": 0, "value": None, "unsupported": unsupported}
        value = None
        nbytes = 0
        if dtype is not None and layout is not None:
            raw = self._read_raw(layout, dims, dtype, filters)
            nbytes = len(raw)
            if dtype["class"] == "vlen":
                flat = self.decode_vlen(raw, dtype)
                value = _reshape(flat, dims)
            elif dtype["class"] == "compound":
                value = _decode_compound(raw, dims, dtype)
            else:
                value = _decode_array(raw, dims, dtype)
        return {
            "path": path, "kind": "DATASET", "dims": dims, "dtype": dtype,
            "nbytes": nbytes, "value": value, "unsupported": unsupported,
        }

    def _datatype(self, b: bytes) -> dict:
        cls = b[0] & 0x0F
        ver = b[0] >> 4
        bits0, bits1 = b[1], b[2]
        (size,) = struct.unpack_from("<I", b, 4)
        if cls == 0:  # fixed-point
            return {"class": "int", "size": size,
                    "signed": bool(bits0 & 0x08), "be": bool(bits0 & 0x01)}
        if cls == 1:
            return {"class": "float", "size": size, "be": bool(bits0 & 0x01)}
        if cls == 3:
            return {"class": "string", "size": size}
        if cls == 9:  # variable-length
            kind = bits0 & 0x0F  # 0 = sequence, 1 = string
            base = self._datatype(b[8:])
            return {"class": "vlen", "size": size, "kind": kind, "base": base}
        if cls == 8:  # enum: base datatype, then member names and values
            base = self._datatype(b[8:])
            n = bits0 | (bits1 << 8)
            pos = 8 + 8 + _dtype_prop_len(b[8], base["size"])
            names = []
            for _ in range(n):
                end = b.index(b"\x00", pos)
                names.append(b[pos:end].decode("ascii"))
                pos = (end - 8) // 8 * 8 + 16 if ver in (1, 2) else end + 1
                # v1/2 pad names to 8 bytes relative to the name start
                if ver in (1, 2):
                    pos = 8 + 8 + _dtype_prop_len(b[8], base["size"]) + sum(
                        ((len(x) + 1 + 7) // 8) * 8 for x in names
                    )
            bo = ">" if base.get("be") else "<"
            kind = "i" if base.get("signed") else "u"
            fmt = {1: "b", 2: "h", 4: "i", 8: "q"}[base["size"]]
            fmt = fmt.upper() if kind == "u" else fmt
            vals = struct.unpack_from(bo + fmt * n, b, pos)
            return {"class": "enum", "size": base["size"], "base": base,
                    "names": dict(zip(vals, names))}
        if cls == 6:  # compound
            n = bits0 | (bits1 << 8)
            members = []
            pos = 8
            for _ in range(n):
                if ver in (1, 2):
                    end = b.index(b"\x00", pos)
                    name = b[pos:end].decode("ascii")
                    pos += ((end - pos) // 8 + 1) * 8
                    (moff,) = struct.unpack_from("<I", b, pos)
                    pos += 4
                    if ver == 1:
                        pos += 1 + 3 + 4 + 4 + 16  # dims/perm/reserved block
                else:  # v3: unpadded name, minimal-byte offset
                    end = b.index(b"\x00", pos)
                    name = b[pos:end].decode("ascii")
                    pos = end + 1
                    nbytes = max(1, (max(size - 1, 1).bit_length() + 7) // 8)
                    moff = int.from_bytes(b[pos : pos + nbytes], "little")
                    pos += nbytes
                mtype = self._datatype(b[pos:])
                (msize,) = struct.unpack_from("<I", b, pos + 4)
                # advance past the member datatype message: header (8)
                # + properties — property size varies; classes we allow
                # (int/float/string) carry <= 12 property bytes
                pos += 8 + _dtype_prop_len(b[pos], msize)
                members.append({"name": name, "offset": moff, "type": mtype})
            return {"class": "compound", "size": size, "members": members}
        raise NotImplementedError(f"HDF5 datatype class {cls}")

    def _attribute(self, b: bytes) -> tuple[str, str]:
        """Attribute message (0x000C) v1-v3 -> (name, rendered value).
        Values render as strings (one map value type per column); 1-byte
        enums render true/false (the shape libhdf5 writes booleans in)."""
        ver = b[0]
        flags = b[1] if ver >= 2 else 0
        name_size, dt_size, ds_size = struct.unpack_from("<HHH", b, 2)
        pos = 8 + (1 if ver == 3 else 0)
        name = b[pos : pos + name_size].split(b"\x00", 1)[0].decode("utf-8")
        pad = (lambda n: (n + 7) // 8 * 8) if ver == 1 else (lambda n: n)
        pos += pad(name_size)
        dt_raw = b[pos : pos + dt_size]
        if flags & 1:  # shared datatype: reference to a committed datatype
            (addr,) = struct.unpack_from("<Q", dt_raw, 2)
            (dt_msg,) = (mb for mt, mb in self._messages(addr) if mt == 0x0003)
            dtype = self._datatype(dt_msg)
        else:
            dtype = self._datatype(dt_raw)
        pos += pad(dt_size)
        ds = b[pos : pos + ds_size]
        rank = ds[1]
        off = 8 if ds[0] == 1 else 4
        dims = list(struct.unpack_from(f"<{rank}Q", ds, off)) if rank else []
        pos += pad(ds_size)
        import math

        n = math.prod(dims) if dims else 1
        raw = b[pos : pos + n * dtype["size"]]
        if dtype["class"] == "vlen":
            vals = self.decode_vlen(raw, dtype)
            v = vals if dims else vals[0]
        else:
            v = _decode_array(raw, dims, dtype)
        return name, str(v)

    # ----------------------------------------------------- variable-length
    def decode_vlen(self, raw: bytes, dtype: dict) -> list:
        """Vlen elements are (size u32, global-heap addr u64, index u32)
        references; resolve each through its GCOL collection."""
        out = []
        base = dtype["base"]
        for i in range(0, len(raw), 16):
            n, addr, idx = struct.unpack_from("<IQI", raw, i)
            if addr == 0 or idx == 0:  # null vlen element
                out.append(None)
                continue
            data = self._gheap_object(addr, idx)
            if dtype["kind"] == 1 or base.get("class") == "string":
                out.append(data.split(b"\x00", 1)[0].decode("utf-8", "replace"))
            else:
                out.append(_decode_array(data[: n * base["size"]], [n], base))
        return out

    def _gheap_object(self, addr: int, want_idx: int) -> bytes:
        d = self.d
        if d[addr : addr + 4] != b"GCOL":
            raise ValueError("bad global heap signature")
        (csize,) = struct.unpack_from("<Q", d, addr + 8)
        pos = addr + 16
        end = addr + csize
        while pos + 16 <= end:
            idx, _refs = struct.unpack_from("<HH", d, pos)
            (osize,) = struct.unpack_from("<Q", d, pos + 8)
            if idx == 0:
                break
            if idx == want_idx:
                return d[pos + 16 : pos + 16 + osize]
            pos += 16 + (osize + 7) // 8 * 8
        raise ValueError(f"global heap object {want_idx} not found")

    def _layout(self, b: bytes) -> dict:
        ver = b[0]
        if ver == 3:
            cls = b[1]
            if cls == 0:  # compact
                (sz,) = struct.unpack_from("<H", b, 2)
                return {"kind": "compact", "data": b[4 : 4 + sz]}
            if cls == 1:
                addr, size = struct.unpack_from("<QQ", b, 2)
                return {"kind": "contiguous", "addr": addr, "size": size}
            if cls == 2:
                rank = b[2]
                (btree,) = struct.unpack_from("<Q", b, 3)
                cdims = list(struct.unpack_from(f"<{rank}I", b, 11))
                return {"kind": "chunked", "btree": btree, "chunk": cdims[:-1],
                        "elem": cdims[-1]}
        if ver in (1, 2):
            rank, cls = b[1], b[2]
            pos = 8
            out: dict = {}
            if cls != 0:  # contiguous/chunked carry an address first
                (addr,) = struct.unpack_from("<Q", b, pos)
                pos += 8
                out["addr"] = addr
            dims = list(struct.unpack_from(f"<{rank}I", b, pos))
            pos += 4 * rank
            if cls == 2:
                (elem,) = struct.unpack_from("<I", b, pos)
                pos += 4
                return {"kind": "chunked", "btree": out["addr"],
                        "chunk": dims[:-1] if rank > 1 else dims, "elem": elem}
            if cls == 1:
                import math

                total = math.prod(dims) if dims else 0
                return {"kind": "contiguous", "addr": out["addr"], "size": total}
            (sz,) = struct.unpack_from("<I", b, pos)
            return {"kind": "compact", "data": b[pos + 4 : pos + 4 + sz]}
        raise NotImplementedError(f"HDF5 data layout version {ver}")

    def _read_raw(self, layout: dict, dims: list[int], dtype: dict,
                  filters: list[int]) -> bytes:
        import math

        d = self.d
        total = math.prod(dims) * dtype["size"] if dims else dtype["size"]
        if layout["kind"] == "compact":
            return layout["data"][:total]
        if layout["kind"] == "contiguous":
            addr = layout["addr"]
            if addr in (0xFFFFFFFFFFFFFFFF,):  # unallocated
                return b""
            return d[addr : addr + total]
        # chunked: walk the v1 B-tree (node type 1)
        unsupported = [f for f in filters if f != 1]
        if unsupported:
            raise NotImplementedError(f"HDF5 filters {unsupported} (deflate only)")
        import numpy as np

        rank = len(dims)
        chunk = layout["chunk"]
        esize = dtype["size"]
        buf = np.zeros(math.prod(dims) * esize, dtype=np.uint8)
        arr = buf.reshape([*dims, esize]) if dims else buf

        def visit(addr):
            sig = d[addr : addr + 4]
            if sig != b"TREE":
                raise ValueError("bad chunk B-tree signature")
            _nt, level, nentries = struct.unpack_from("<BBH", d, addr + 4)
            pos = addr + 8 + 16
            key_len = 8 + 8 * (rank + 1)
            for i in range(nentries):
                ksize, _mask = struct.unpack_from("<II", d, pos)
                offs = struct.unpack_from(f"<{rank + 1}Q", d, pos + 8)
                (child,) = struct.unpack_from("<Q", d, pos + key_len)
                pos += key_len + 8
                if level > 0:
                    visit(child)
                    continue
                raw = d[child : child + ksize]
                if 1 in filters:
                    raw = zlib.decompress(raw)
                carr = np.frombuffer(raw, dtype=np.uint8)
                cshape = [*chunk, esize]
                carr = carr[: math.prod(cshape)].reshape(cshape)
                sl = []
                for ax in range(rank):
                    start = offs[ax]
                    stop = min(start + chunk[ax], dims[ax])
                    sl.append(slice(start, stop))
                    cshape[ax] = stop - start
                arr[tuple(sl)] = carr[tuple(slice(0, c) for c in cshape[:-1])]

        visit(layout["btree"])
        return buf.tobytes()


def _dtype_prop_len(cls_byte: int, size: int) -> int:
    """Bytes of properties following a member datatype's 8-byte header
    (classes the compound decoder admits)."""
    cls = cls_byte & 0x0F
    if cls in (0, 1):  # fixed-point: offset+precision; float adds layout
        return 4 if cls == 0 else 12
    if cls == 3:
        return 0
    raise NotImplementedError(f"compound member datatype class {cls}")


def _reshape(flat: list, dims: list[int]):
    if len(dims) <= 1:
        return flat
    step = len(flat) // dims[0] if dims[0] else 0
    return [
        _reshape(flat[i * step : (i + 1) * step], dims[1:]) for i in range(dims[0])
    ]


def _decode_compound(raw: bytes, dims: list[int], dtype: dict) -> dict:
    """Compound dataset -> {member name: flat list} (numpy structured
    view over the packed records)."""
    import math

    import numpy as np

    names, formats, offsets = [], [], []
    for m in dtype["members"]:
        t = m["type"]
        bo = ">" if t.get("be") else "<"
        if t["class"] == "int":
            f = f"{bo}{'i' if t['signed'] else 'u'}{t['size']}"
        elif t["class"] == "float":
            f = f"{bo}f{t['size']}"
        else:
            f = f"S{t['size']}"
        names.append(m["name"])
        formats.append(f)
        offsets.append(m["offset"])
    nd = np.dtype({"names": names, "formats": formats, "offsets": offsets,
                   "itemsize": dtype["size"]})
    n = math.prod(dims) if dims else 1
    arr = np.frombuffer(raw[: n * dtype["size"]], dtype=nd)
    out = {}
    for m, f in zip(names, formats):
        col = arr[m]
        if f.startswith("S"):
            out[m] = [v.split(b"\x00", 1)[0].decode("utf-8", "replace") for v in col]
        else:
            out[m] = col.tolist()
    return out


def _decode_array(raw: bytes, dims: list[int], dtype: dict):
    import numpy as np

    if dtype["class"] == "enum":
        base_vals = _decode_array(raw, dims, dtype["base"])
        names = dtype["names"]

        def rename(v):
            if isinstance(v, list):
                return [rename(x) for x in v]
            n = names.get(v, str(v))
            return {"TRUE": "true", "FALSE": "false"}.get(n, n)

        return rename(base_vals)
    bo = ">" if dtype.get("be") else "<"
    if dtype["class"] == "string":
        n = dtype["size"]
        vals = [
            raw[i : i + n].split(b"\x00", 1)[0].decode("utf-8", "replace")
            for i in range(0, len(raw), n)
        ]
        a = np.array(vals, dtype=object)
    else:
        kind = ("i" if dtype["signed"] else "u") if dtype["class"] == "int" else "f"
        a = np.frombuffer(raw, dtype=f"{bo}{kind}{dtype['size']}")
    if dims:
        import math

        a = a[: math.prod(dims)].reshape(dims)
    if dims:
        return a.tolist()
    if not len(a):
        return None
    v = a[0]
    return v.item() if hasattr(v, "item") else v


def scan_hdf5(data: bytes) -> list[dict]:
    return _H5(data).objects


HDF5_SCHEMA = (
    "path string, data_type string, file_name string, data_size bigint, "
    "element_count bigint, dataset_data_type string, dimensions string, "
    "int_data array<array<bigint>>, float_data array<array<double>>, "
    "string_data array<string>, attributes map<string,string>, is_link boolean"
)


def _rows_for_file(fpath: str) -> list[dict]:
    import math

    with open(fpath, "rb") as f:
        objs = scan_hdf5(f.read())
    rows = []
    for o in objs:
        row = {
            "path": o["path"], "data_type": o["kind"],
            "file_name": os.path.basename(fpath),
            "data_size": None, "element_count": None,
            "dataset_data_type": None, "dimensions": None,
            "int_data": None, "float_data": None, "string_data": None,
            "attributes": o.get("attrs") or None,
            "is_link": o["kind"] == "LINK",
        }
        if o["kind"] == "DATASET":
            dims = o["dims"]
            dt = o["dtype"] or {}
            row["data_size"] = o["nbytes"]
            row["element_count"] = math.prod(dims) if dims else 1
            row["dataset_data_type"] = {
                "int": "int" if dt.get("size", 8) <= 4 else "long",
                "float": "float" if dt.get("size", 8) <= 4 else "double",
                "string": "string", "vlen": "string",
                "compound": "compound",
            }.get(dt.get("class"))
            row["dimensions"] = "[" + ", ".join(str(x) for x in dims) + "]"
            v = o["value"]
            # deepest-2 nesting; 1-D arrives as one inner list (see
            # module docstring on the static-schema deviation)
            nested = (
                v if dims and len(dims) > 1
                else ([v] if dims else ([[v]] if v is not None else None))
            )
            if dt.get("class") == "int" and nested is not None:
                while nested and isinstance(nested[0][0], list):
                    nested = [sum(r, []) for r in nested]
                row["int_data"] = [
                    [None if x is None else int(x) for x in r] for r in nested
                ]
            elif dt.get("class") == "float" and nested is not None:
                while nested and isinstance(nested[0][0], list):
                    nested = [sum(r, []) for r in nested]
                row["float_data"] = [
                    [None if x is None else float(x) for x in r] for r in nested
                ]
            elif dt.get("class") in ("string", "vlen") and v is not None:
                row["string_data"] = v if dims else [v]
        rows.append(row)
    return rows


def write_h5_simple(datasets: dict[str, list], path: str) -> None:
    """Minimal classic-layout HDF5 writer for tests/fixtures: a root
    group of 1-D contiguous datasets (int64 or float64), written to the
    same public layout the reader decodes. (The reference plugin is
    read-only; this exists so the oracle query can build inputs.)"""
    UNDEF = 0xFFFFFFFFFFFFFFFF
    names = list(datasets)

    def objhdr_dataset(vals: list, data_addr: int) -> bytes:
        is_f = any(isinstance(v, float) for v in vals)
        n = len(vals)
        ds = struct.pack("<BB6x", 1, 1) + struct.pack("<Q", n)  # dataspace v1
        if is_f:  # IEEE f8 LE: class 1, LE, size 8; props per spec
            dt = struct.pack("<BBBBI", 0x11, 0x20, 0x3F, 0x00, 8)
            dt += struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        else:  # fixed-point i8 LE signed
            dt = struct.pack("<BBBBI", 0x10, 0x08, 0x00, 0x00, 8)
            dt += struct.pack("<HH", 0, 64)
        dt += b"\x00" * ((-len(dt)) % 8)
        lay = struct.pack("<BBQQ", 3, 1, data_addr, 8 * n)
        lay += b"\x00" * ((-len(lay)) % 8)

        def msg(t, body):
            return struct.pack("<HHB3x", t, len(body), 0) + body

        msgs = msg(0x0001, ds) + msg(0x0003, dt) + msg(0x0008, lay)
        return struct.pack("<BBHII4x", 1, 0, 3, 1, len(msgs)) + msgs

    # layout: superblock(96) | heap hdr(32)+data | TREE | SNOD | per-ds
    # object headers | data blocks
    heap_data = bytearray(b"\x00")  # offset 0 = empty name (root entry)
    name_offs = []
    for nm in names:
        name_offs.append(len(heap_data))
        heap_data += nm.encode() + b"\x00"
    heap_data += b"\x00" * ((-len(heap_data)) % 8)

    pos = 96
    root_hdr = pos
    pos += 16 + 24  # v1 header (12+4 pad) + symbol-table msg (8 hdr + 16 body)
    heap_addr = pos
    heap_data_addr = heap_addr + 32
    pos = heap_data_addr + len(heap_data)
    btree_addr = pos
    pos += 48  # hdr(8) + siblings(16) + key0(8) + child(8) + key1(8): one SNOD
    snod_addr = pos
    pos += 8 + 40 * len(names)
    ds_hdrs = []
    for nm in names:
        ds_hdrs.append(pos)
        pos += len(objhdr_dataset(datasets[nm], 0))
    data_addrs = []
    for nm in names:
        data_addrs.append(pos)
        pos += 8 * len(datasets[nm])
    eof = pos

    out = bytearray()
    out += SIGNATURE
    out += struct.pack("<BBBBBBBBHHI", 0, 0, 0, 0, 0, 8, 8, 0, 4, 16, 0)
    out += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
    out += struct.pack("<QQII16x", 0, root_hdr, 0, 0)  # root symbol entry
    assert len(out) == 96
    st_msg = struct.pack("<HHB3x", 0x0011, 16, 0) + struct.pack("<QQ", btree_addr, heap_addr)
    out += struct.pack("<BBHII4x", 1, 0, 1, 1, len(st_msg)) + st_msg
    out += b"HEAP" + struct.pack("<B3x", 0)
    out += struct.pack("<QQQ", len(heap_data), len(heap_data), heap_data_addr)
    out += heap_data
    out += b"TREE" + struct.pack("<BBH", 0, 0, 1) + struct.pack("<QQ", UNDEF, UNDEF)
    out += struct.pack("<QQQ", 0, snod_addr, 0)  # key0, child, key1
    assert len(out) == snod_addr
    out += b"SNOD" + struct.pack("<BBH", 1, 0, len(names))
    for i, nm in enumerate(names):
        out += struct.pack("<QQII16x", name_offs[i], ds_hdrs[i], 0, 0)
    for i, nm in enumerate(names):
        out += objhdr_dataset(datasets[nm], data_addrs[i])
    for nm in names:
        vals = datasets[nm]
        is_f = any(isinstance(v, float) for v in vals)
        fmt = "<d" if is_f else "<q"
        for v in vals:
            out += struct.pack(fmt, float(v) if is_f else int(v))
    assert len(out) == eof
    with open(path, "wb") as f:
        f.write(bytes(out))


def write_h5_v2(datasets: dict[str, list], path: str, dense: bool = False) -> None:
    """Minimal NEW-layout HDF5 writer for tests: superblock v3, root
    group as a v2 ("OHDR") object header with either compact link
    messages or (``dense=True``) a link-info message backed by a real
    fractal heap direct block + name-index v2 B-tree — the structures
    recent-libversion libhdf5 emits. Dataset headers stay v1 (mixed
    header versions are legal). Checksums and name hashes are written
    as zeros (this writer feeds our reader, which, like several others,
    does not verify them); everything positional follows the spec."""
    UNDEF = 0xFFFFFFFFFFFFFFFF
    names = list(datasets)

    def objhdr_dataset(vals: list, data_addr: int) -> bytes:
        is_f = any(isinstance(v, float) for v in vals)
        n = len(vals)
        ds = struct.pack("<BB6x", 1, 1) + struct.pack("<Q", n)
        if is_f:
            dt = struct.pack("<BBBBI", 0x11, 0x20, 0x3F, 0x00, 8)
            dt += struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
        else:
            dt = struct.pack("<BBBBI", 0x10, 0x08, 0x00, 0x00, 8)
            dt += struct.pack("<HH", 0, 64)
        dt += b"\x00" * ((-len(dt)) % 8)
        lay = struct.pack("<BBQQ", 3, 1, data_addr, 8 * n)
        lay += b"\x00" * ((-len(lay)) % 8)

        def msg(t, body):
            return struct.pack("<HHB3x", t, len(body), 0) + body

        msgs = msg(0x0001, ds) + msg(0x0003, dt) + msg(0x0008, lay)
        return struct.pack("<BBHII4x", 1, 0, 3, 1, len(msgs)) + msgs

    def v2msg(t: int, body: bytes) -> bytes:
        return struct.pack("<BHB", t, len(body), 0) + body

    def link_msg(name: str, addr: int) -> bytes:
        nb = name.encode()
        return (struct.pack("<BBB", 1, 0x00, len(nb)) + nb
                + struct.pack("<Q", addr))

    def ohdr(msgs: bytes) -> bytes:
        # flags 0x02: size-of-chunk-0 stored in 4 bytes
        return (b"OHDR" + struct.pack("<BBI", 2, 0x02, len(msgs)) + msgs
                + b"\x00\x00\x00\x00")  # checksum (unverified)

    # ---- size the variable parts with placeholder addresses ----
    def root_hdr(ds_addrs: dict[str, int], fheap: int, btree: int) -> bytes:
        if dense:
            li = struct.pack("<BBQQ", 0, 0, fheap, btree)
            return ohdr(v2msg(0x02, li))
        return ohdr(b"".join(v2msg(0x06, link_msg(nm, ds_addrs[nm])) for nm in names))

    dummy = dict.fromkeys(names, 0)
    pos = 48 + len(root_hdr(dummy, 0, 0))
    ds_hdrs = {}
    for nm in names:
        ds_hdrs[nm] = pos
        pos += len(objhdr_dataset(datasets[nm], 0))

    fheap_addr = btree_addr = UNDEF
    heap_block = b""
    btree_block = b""
    if dense:
        off_bytes, len_bytes = 4, 2
        id_len = 1 + off_bytes + len_bytes
        dblock_hdr = 4 + 1 + 8 + off_bytes  # FHDB header
        links = [link_msg(nm, ds_hdrs[nm]) for nm in names]
        heap_ids = []
        cursor = dblock_hdr
        body = bytearray()
        for lk in links:
            heap_ids.append(
                bytes([0x00]) + cursor.to_bytes(off_bytes, "little")
                + len(lk).to_bytes(len_bytes, "little")
            )
            body += lk
            cursor += len(lk)
        start_block = 512
        fheap_addr = pos
        frhp = (b"FRHP" + struct.pack("<BHHB", 0, id_len, 0, 0)
                + struct.pack("<I", 4096)  # max managed object size
                + struct.pack("<Q", 0) + struct.pack("<Q", UNDEF)  # huge id/btree
                + struct.pack("<QQ", 0, UNDEF)  # free space + fs mgr
                + struct.pack("<QQQQ", start_block, start_block, cursor, len(links))
                + struct.pack("<QQQQ", 0, 0, 0, 0)  # huge/tiny sizes+counts
                + struct.pack("<HQQHH", 4, start_block, 4096, 32, 1)
                + struct.pack("<QH", pos + 0, 0)  # root addr patched below
                + b"\x00\x00\x00\x00")
        dblock_addr = fheap_addr + len(frhp)
        frhp = frhp[:-14] + struct.pack("<QH", dblock_addr, 0) + b"\x00\x00\x00\x00"
        dblock = (b"FHDB" + struct.pack("<B", 0) + struct.pack("<Q", fheap_addr)
                  + (0).to_bytes(off_bytes, "little") + bytes(body))
        dblock += b"\x00" * (start_block - len(dblock))
        heap_block = frhp + dblock
        btree_addr = fheap_addr + len(heap_block)
        rec_size = 4 + id_len
        leaf_addr = btree_addr + 38
        bthd = (b"BTHD" + struct.pack("<BBIHHBB", 0, 5, 512, rec_size, 0, 100, 40)
                + struct.pack("<QH", leaf_addr, len(names))
                + struct.pack("<Q", len(names)) + b"\x00\x00\x00\x00")
        assert len(bthd) == 38
        btlf = b"BTLF" + struct.pack("<BB", 0, 5)
        for hid in heap_ids:
            btlf += b"\x00\x00\x00\x00" + hid  # name hash unverified
        btlf += b"\x00\x00\x00\x00"
        btree_block = bthd + btlf
        pos = btree_addr + len(btree_block)

    data_addrs = {}
    for nm in names:
        data_addrs[nm] = pos
        pos += 8 * len(datasets[nm])
    eof = pos

    out = bytearray()
    out += SIGNATURE
    out += struct.pack("<BBBB", 3, 8, 8, 0)
    out += struct.pack("<QQQQ", 0, UNDEF, eof, 48)  # root OHDR right after
    out += b"\x00\x00\x00\x00"  # superblock checksum (unverified)
    assert len(out) == 48
    out += root_hdr(ds_hdrs, fheap_addr, btree_addr)
    for nm in names:
        out += objhdr_dataset(datasets[nm], data_addrs[nm])
    out += heap_block
    out += btree_block
    for nm in names:
        vals = datasets[nm]
        is_f = any(isinstance(v, float) for v in vals)
        fmt = "<d" if is_f else "<q"
        for v in vals:
            out += struct.pack(fmt, float(v) if is_f else int(v))
    assert len(out) == eof, (len(out), eof)
    with open(path, "wb") as f:
        f.write(bytes(out))


def read_hdf5(spark: SparkSession, path: str,
              options: dict | None = None) -> DataFrame:
    """Distributed HDF5 read. Default: the metadata/data listing (one
    row per object, HDF5BatchReader surface). ``defaultPath`` option:
    project one dataset — 2-D as ``<type>_col_N`` columns (reference
    shape), 1-D as a single ``value`` column."""
    import pandas as pd

    opts = options or {}
    default_path = opts.get("defaultPath", opts.get("default_path"))

    files = list_files(path, "hdf5")

    if default_path:
        with open(files[0], "rb") as f:
            objs = scan_hdf5(f.read())
        target = next((o for o in objs if o["path"] == default_path), None)
        if target is None or target["kind"] != "DATASET":
            raise ValueError(f"defaultPath {default_path!r} is not a dataset")
        dt = target["dtype"]
        dims = target["dims"]

        def _sql_t(t: dict) -> str:
            return {"int": "bigint" if t["size"] > 4 else "int",
                    "float": "double" if t["size"] > 4 else "float",
                    "string": "string", "vlen": "string"}[t["class"]]

        if dt["class"] == "compound":
            # reference shape: one column per member, names sanitized
            members = [m["name"] for m in dt["members"]]
            cols = [m.replace(" ", "_") for m in members]
            schema = ", ".join(
                f"`{c}` {_sql_t(m['type'])}"
                for c, m in zip(cols, dt["members"])
            )

            def project(batches):
                for pdf in batches:
                    for fpath in pdf["path"]:
                        with open(fpath, "rb") as f:
                            obj = next(
                                o for o in scan_hdf5(f.read())
                                if o["path"] == default_path
                            )
                        v = obj["value"]
                        recs = list(zip(*(v[m] for m in members)))
                        yield pd.DataFrame.from_records(recs, columns=cols)
        else:
            spark_t = _sql_t(dt)
            prefix = {"int": "int" if dt["size"] <= 4 else "long",
                      "float": "float" if dt["size"] <= 4 else "double",
                      "string": "string", "vlen": "string"}[dt["class"]]
            if len(dims) > 2:
                raise NotImplementedError("defaultPath projection supports 1-D/2-D")
            if len(dims) == 2:
                cols = [f"{prefix}_col_{i}" for i in range(dims[1])]
            else:
                # 1-D / scalar: one column named after the dataset
                cols = [default_path.rsplit("/", 1)[-1]]
            schema = ", ".join(f"`{c}` {spark_t}" for c in cols)

            def project(batches):
                for pdf in batches:
                    for fpath in pdf["path"]:
                        with open(fpath, "rb") as f:
                            obj = next(
                                o for o in scan_hdf5(f.read())
                                if o["path"] == default_path
                            )
                        v = obj["value"]
                        if not dims:
                            v = [v]
                        recs = v if len(dims) == 2 else [[x] for x in v]
                        yield pd.DataFrame.from_records(recs, columns=cols)

        return scan_files(spark, files, project, schema)

    meta_cols = [
        "path", "data_type", "file_name", "data_size", "element_count",
        "dataset_data_type", "dimensions", "int_data", "float_data",
        "string_data", "attributes", "is_link",
    ]

    def listing(batches):
        for pdf in batches:
            for fpath in pdf["path"]:
                yield pd.DataFrame.from_records(
                    _rows_for_file(fpath), columns=meta_cols
                )

    return scan_files(spark, files, listing, HDF5_SCHEMA)
