"""Minimal pure-Python decoder for Go ``encoding/gob`` streams.

Implements enough of the public gob wire format (documented at
https://pkg.go.dev/encoding/gob) to decode the reference model artifacts:

- ``[]string``                      (labels, classes, words)
- ``map[string]string``             (tagMap)
- ``map[string]int``                (Maxent feature mapping)
- ``[]float64``                     (Maxent weights)
- ``map[string]map[string]float64`` (perceptron weights, if present)

Wire format recap (from the gob docs):
- stream = sequence of messages, each prefixed by a uvarint byte count;
- unsigned ints < 128 are one byte, else ``256 - n`` followed by n
  big-endian bytes;
- signed ints put the sign in bit 0 (value ``i`` -> ``i<<1`` or ``~i<<1|1``);
- float64 = byte-reversed IEEE-754 bits sent as an unsigned int;
- strings/byte slices = uint length + raw bytes;
- slices = uint count + elements; maps = uint count + key/value pairs;
- a message holds type definitions (negative type id + wireType struct)
  then a value (positive type id); top-level non-struct values are
  preceded by a zero "delta" byte; struct values are (field-delta, value)
  pairs terminated by delta 0.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def eof(self) -> bool:
        return self.pos >= len(self.buf)

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise EOFError("gob: truncated stream")
        self.pos += n
        return b

    def read_uint(self) -> int:
        b0 = self.read(1)[0]
        if b0 < 128:
            return b0
        n = 256 - b0
        if n > 8:
            raise ValueError("gob: bad uint byte count")
        return int.from_bytes(self.read(n), "big")

    def read_int(self) -> int:
        u = self.read_uint()
        if u & 1:
            return ~(u >> 1)
        return u >> 1

    def read_float(self) -> float:
        u = self.read_uint()
        return struct.unpack("<d", u.to_bytes(8, "big"))[0]

    def read_string(self) -> str:
        n = self.read_uint()
        return self.read(n).decode("utf-8")

    def read_bytes(self) -> bytes:
        return self.read(self.read_uint())


# builtin type ids (gob/type.go, public)
T_BOOL, T_INT, T_UINT, T_FLOAT, T_BYTES, T_STRING = 1, 2, 3, 4, 5, 6


@dataclass
class _WireType:
    kind: str = ""  # "slice" | "map" | "struct" | "array"
    elem: int = 0
    key: int = 0
    fields: list = field(default_factory=list)  # [(name, typeid)]
    name: str = ""


class GobDecoder:
    def __init__(self, data: bytes):
        self.r = _Reader(data)
        self.types: dict[int, _WireType] = {}

    # -- type definition parsing -------------------------------------------

    def _parse_common(self, r: _Reader) -> tuple[str, int]:
        name, tid = "", 0
        fieldnum = -1
        while True:
            delta = r.read_uint()
            if delta == 0:
                break
            fieldnum += delta
            if fieldnum == 0:
                name = r.read_string()
            elif fieldnum == 1:
                tid = r.read_int()
            else:
                raise ValueError("gob: unexpected CommonType field")
        return name, tid

    def _parse_typedef(self, r: _Reader, type_id: int) -> None:
        wt = _WireType()
        fieldnum = -1
        while True:
            delta = r.read_uint()
            if delta == 0:
                break
            fieldnum += delta
            if fieldnum == 0:  # ArrayT
                wt.kind = "array"
                self._parse_array(r, wt)
            elif fieldnum == 1:  # SliceT
                wt.kind = "slice"
                self._parse_slice(r, wt)
            elif fieldnum == 2:  # StructT
                wt.kind = "struct"
                self._parse_struct(r, wt)
            elif fieldnum == 3:  # MapT
                wt.kind = "map"
                self._parse_map(r, wt)
            else:
                raise ValueError(f"gob: unsupported wireType field {fieldnum}")
        self.types[type_id] = wt

    def _parse_slice(self, r: _Reader, wt: _WireType) -> None:
        fieldnum = -1
        while True:
            delta = r.read_uint()
            if delta == 0:
                break
            fieldnum += delta
            if fieldnum == 0:
                wt.name, _ = self._parse_common(r)
            elif fieldnum == 1:
                wt.elem = r.read_int()
            else:
                raise ValueError("gob: bad SliceType")

    def _parse_array(self, r: _Reader, wt: _WireType) -> None:
        fieldnum = -1
        while True:
            delta = r.read_uint()
            if delta == 0:
                break
            fieldnum += delta
            if fieldnum == 0:
                wt.name, _ = self._parse_common(r)
            elif fieldnum == 1:
                wt.elem = r.read_int()
            elif fieldnum == 2:
                r.read_int()  # length — not needed, count precedes values
            else:
                raise ValueError("gob: bad ArrayType")

    def _parse_map(self, r: _Reader, wt: _WireType) -> None:
        fieldnum = -1
        while True:
            delta = r.read_uint()
            if delta == 0:
                break
            fieldnum += delta
            if fieldnum == 0:
                wt.name, _ = self._parse_common(r)
            elif fieldnum == 1:
                wt.key = r.read_int()
            elif fieldnum == 2:
                wt.elem = r.read_int()
            else:
                raise ValueError("gob: bad MapType")

    def _parse_struct(self, r: _Reader, wt: _WireType) -> None:
        fieldnum = -1
        while True:
            delta = r.read_uint()
            if delta == 0:
                break
            fieldnum += delta
            if fieldnum == 0:
                wt.name, _ = self._parse_common(r)
            elif fieldnum == 1:
                n = r.read_uint()
                for _ in range(n):
                    fname, ftid = "", 0
                    fn = -1
                    while True:
                        d = r.read_uint()
                        if d == 0:
                            break
                        fn += d
                        if fn == 0:
                            fname = r.read_string()
                        elif fn == 1:
                            ftid = r.read_int()
                    wt.fields.append((fname, ftid))
            else:
                raise ValueError("gob: bad StructType")

    # -- value decoding ------------------------------------------------------

    def _decode_value(self, r: _Reader, type_id: int):
        if type_id == T_BOOL:
            return r.read_uint() != 0
        if type_id in (T_INT,):
            return r.read_int()
        if type_id == T_UINT:
            return r.read_uint()
        if type_id == T_FLOAT:
            return r.read_float()
        if type_id == T_BYTES:
            return r.read_bytes()
        if type_id == T_STRING:
            return r.read_string()
        wt = self.types.get(type_id)
        if wt is None:
            raise ValueError(f"gob: unknown type id {type_id}")
        if wt.kind in ("slice", "array"):
            n = r.read_uint()
            return [self._decode_value(r, wt.elem) for _ in range(n)]
        if wt.kind == "map":
            n = r.read_uint()
            out = {}
            for _ in range(n):
                k = self._decode_value(r, wt.key)
                out[k] = self._decode_value(r, wt.elem)
            return out
        if wt.kind == "struct":
            obj = {}
            fieldnum = -1
            while True:
                delta = r.read_uint()
                if delta == 0:
                    break
                fieldnum += delta
                fname, ftid = wt.fields[fieldnum]
                obj[fname] = self._decode_value(r, ftid)
            return obj
        raise ValueError(f"gob: unsupported kind {wt.kind}")

    # -- top level -----------------------------------------------------------

    def decode(self):
        """Decode the next top-level value from the stream."""
        while True:
            msg_len = self.r.read_uint()
            msg = _Reader(self.r.read(msg_len))
            while not msg.eof():
                type_id = msg.read_int()
                if type_id < 0:
                    self._parse_typedef(msg, -type_id)
                    continue
                wt = self.types.get(type_id)
                if wt is not None and wt.kind == "struct":
                    return self._decode_value(msg, type_id)
                # non-struct top-level values carry a leading zero delta byte
                zero = msg.read_uint()
                if zero != 0:
                    raise ValueError("gob: expected zero delta before value")
                return self._decode_value(msg, type_id)


def decode_gob_file(path: str):
    with open(path, "rb") as f:
        return GobDecoder(f.read()).decode()
