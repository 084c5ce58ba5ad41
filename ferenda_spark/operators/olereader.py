"""Minimal OLE2 compound-file reader + Word 97 (.doc) text extraction
(S8 completion, VERDICT r02 #7).

The reference shells out to antiword/wvText for legacy .doc
(/root/reference/ferenda/wordreader.py); neither binary exists in this
container, so this implements the public [MS-CFB] / [MS-DOC] layouts
directly:

- compound file: header DIFAT -> FAT chains -> directory entries;
  small streams resolved through the MiniFAT over the root entry's
  mini stream
- WordDocument stream: FIB -> CLX piece table in the 0Table/1Table
  stream (complex format), each piece cp1252 or utf-16-le per its fc
  flag; fallback to the fcMin..fcMac contiguous window when no piece
  table parses

Field offsets follow the published MS-DOC FIB layout; quarantine
behavior (raise on non-OLE input) mirrors docformats' contract.
"""

from __future__ import annotations

import struct

_OLE_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREE = 0xFFFFFFFF
_ENDCHAIN = 0xFFFFFFFE


class _Cfb:
    def __init__(self, data: bytes):
        if data[:8] != _OLE_MAGIC:
            raise ValueError("not an OLE2 compound file")
        self.data = data
        self.ssz = 1 << struct.unpack_from("<H", data, 0x1E)[0]
        self.mssz = 1 << struct.unpack_from("<H", data, 0x20)[0]
        self.mini_cutoff = struct.unpack_from("<I", data, 0x38)[0]
        first_dir = struct.unpack_from("<I", data, 0x30)[0]
        first_minifat = struct.unpack_from("<I", data, 0x3C)[0]
        n_minifat = struct.unpack_from("<I", data, 0x40)[0]
        first_difat = struct.unpack_from("<I", data, 0x44)[0]
        n_difat = struct.unpack_from("<I", data, 0x48)[0]

        # FAT sector list: 109 header DIFAT entries + DIFAT chain
        fat_sectors = [s for s in struct.unpack_from("<109I", data, 0x4C)
                       if s not in (_FREE, _ENDCHAIN)]
        sec = first_difat
        for _ in range(n_difat):
            if sec in (_FREE, _ENDCHAIN):
                break
            block = self._sector(sec)
            ents = struct.unpack(f"<{self.ssz // 4}I", block)
            fat_sectors += [s for s in ents[:-1]
                            if s not in (_FREE, _ENDCHAIN)]
            sec = ents[-1]
        fat = []
        for s in fat_sectors:
            fat += struct.unpack(f"<{self.ssz // 4}I", self._sector(s))
        self.fat = fat

        # directory entries
        dirdata = self._chain(first_dir)
        self.entries = []
        for off in range(0, len(dirdata) - 127, 128):
            e = dirdata[off:off + 128]
            nlen = struct.unpack_from("<H", e, 0x40)[0]
            if nlen < 2:
                continue
            name = e[:nlen - 2].decode("utf-16-le", "ignore")
            self.entries.append({
                "name": name,
                "type": e[0x42],
                "start": struct.unpack_from("<I", e, 0x74)[0],
                "size": struct.unpack_from("<I", e, 0x78)[0],
            })

        # mini FAT + the root entry's mini stream
        minifat = []
        sec = first_minifat
        for _ in range(n_minifat):
            if sec in (_FREE, _ENDCHAIN):
                break
            minifat += struct.unpack(f"<{self.ssz // 4}I",
                                     self._sector(sec))
            sec = self.fat[sec] if sec < len(self.fat) else _ENDCHAIN
        self.minifat = minifat
        root = next((e for e in self.entries if e["type"] == 5), None)
        self.ministream = (self._chain(root["start"])[:root["size"]]
                           if root else b"")

    def _sector(self, n: int) -> bytes:
        off = 512 + n * self.ssz
        return self.data[off:off + self.ssz]

    def _chain(self, start: int, limit: int = 1 << 22) -> bytes:
        out, sec, seen = bytearray(), start, set()
        while sec not in (_FREE, _ENDCHAIN) and sec not in seen \
                and len(out) < limit:
            seen.add(sec)
            out += self._sector(sec)
            sec = self.fat[sec] if sec < len(self.fat) else _ENDCHAIN
        return bytes(out)

    def _minichain(self, start: int) -> bytes:
        out, sec, seen = bytearray(), start, set()
        while sec not in (_FREE, _ENDCHAIN) and sec not in seen:
            seen.add(sec)
            out += self.ministream[sec * self.mssz:(sec + 1) * self.mssz]
            sec = (self.minifat[sec] if sec < len(self.minifat)
                   else _ENDCHAIN)
        return bytes(out)

    def stream(self, name: str) -> bytes | None:
        e = next((e for e in self.entries
                  if e["name"] == name and e["type"] == 2), None)
        if e is None:
            return None
        if e["size"] < self.mini_cutoff:
            return self._minichain(e["start"])[:e["size"]]
        return self._chain(e["start"])[:e["size"]]


def _pieces(word: bytes, table: bytes) -> list[tuple[int, int, bool]]:
    """CLX piece table -> [(fc, n_chars, is_unicode)] ([MS-DOC] 2.8.35:
    Clx = RgPrc* + Pcdt; Pcdt = 0x02 lcb PlcPcd)."""
    fc_clx = struct.unpack_from("<I", word, 0x1A2)[0]
    lcb_clx = struct.unpack_from("<I", word, 0x1A6)[0]
    clx = table[fc_clx:fc_clx + lcb_clx]
    i = 0
    while i < len(clx):
        if clx[i] == 0x01:                      # Prc: skip grpprl
            cb = struct.unpack_from("<h", clx, i + 1)[0]
            i += 3 + cb
        elif clx[i] == 0x02:                    # Pcdt
            lcb = struct.unpack_from("<I", clx, i + 1)[0]
            plc = clx[i + 5:i + 5 + lcb]
            n = (lcb - 4) // 12
            cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
            out = []
            for k in range(n):
                fc_raw = struct.unpack_from(
                    "<I", plc, (n + 1) * 4 + k * 8 + 2)[0]
                compressed = bool(fc_raw & 0x40000000)
                fc = (fc_raw & 0x3FFFFFFF) >> 1 if compressed \
                    else fc_raw & 0x3FFFFFFF
                out.append((fc, cps[k + 1] - cps[k], not compressed))
            return out
        else:
            break
    return []


def doc_text(data: bytes) -> str:
    """Legacy .doc -> document text (main text range; field codes and
    control chars normalized like a text dump)."""
    cfb = _Cfb(data)
    word = cfb.stream("WordDocument")
    if word is None or struct.unpack_from("<H", word, 0)[0] != 0xA5EC:
        raise ValueError("no WordDocument stream")
    flags = struct.unpack_from("<H", word, 0x0A)[0]
    table = cfb.stream("1Table" if flags & 0x0200 else "0Table") or b""

    chunks: list[str] = []
    pieces = _pieces(word, table) if table else []
    if pieces:
        for fc, n, uni in pieces:
            raw = word[fc:fc + (n * 2 if uni else n)]
            chunks.append(raw.decode("utf-16-le" if uni else "cp1252",
                                     "ignore"))
    else:                                       # non-complex fallback
        fc_min = struct.unpack_from("<I", word, 0x18)[0]
        fc_mac = struct.unpack_from("<I", word, 0x1C)[0]
        chunks.append(word[fc_min:fc_mac].decode("cp1252", "ignore"))

    text = "".join(chunks)
    # normalize Word control chars: CR -> newline, cell/row marks (0x07)
    # -> tab-ish separator, drop field/object markers
    text = (text.replace("\r\x07", "\n").replace("\x07", "\t")
            .replace("\r", "\n").replace("\x0b", "\n")
            .replace("\x0c", "\n"))
    return "".join(c for c in text
                   if c >= " " or c in "\n\t").strip()


def doc_paragraphs_real(data: bytes) -> list[str]:
    """Non-empty paragraph texts, wordreader-style granularity."""
    return [p.strip() for p in doc_text(data).split("\n") if p.strip()]
