"""ISCC-style unit codec — the identity feature's string form.

Implements the public ISO 24138 header scheme (as documented by the
iscc-core spec and mirrored in the reference's models,
iscc_search/models.py:85-131: varnibble header <maintype, subtype, version,
length> + body, base32 upper no-padding, "ISCC:" prefix) for the one unit
family this engine produces: CONTENT_TEXT_V0 64-bit simhashes.

This is a from-scratch minimal codec for 0-7 nibble values (all we need);
it round-trips and is covered by literal tests.  It exists so downstream
users get the reference's canonical string identity for each document:
``ISCC:EAA...`` <-> int64 simhash.
"""

from __future__ import annotations

import base64

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MT_CONTENT = 2
ST_TEXT = 0
VERSION = 0
LEN_64 = 1  # length field: (bits / 32) - 1


def _header(maintype: int, subtype: int, version: int, length: int) -> bytes:
    """2-byte header for nibble values 0-7 (varnibble without extension)."""
    for v in (maintype, subtype, version, length):
        if not 0 <= v <= 7:
            raise ValueError("only nibble values 0-7 supported")
    return bytes([(maintype << 4) | subtype, (version << 4) | length])


def encode_unit(body: bytes, maintype: int = MT_CONTENT, subtype: int = ST_TEXT,
                version: int = VERSION, length: int | None = None) -> str:
    if length is None:
        length = (len(body) * 8) // 32 - 1
    raw = _header(maintype, subtype, version, length) + body
    b32 = base64.b32encode(raw).decode("ascii").rstrip("=")
    return "ISCC:" + b32


def decode_unit(code: str) -> tuple[int, int, int, int, bytes]:
    """-> (maintype, subtype, version, length, body)."""
    if code.startswith("ISCC:"):
        code = code[5:]
    pad = "=" * (-len(code) % 8)
    raw = base64.b32decode(code + pad)
    h0, h1 = raw[0], raw[1]
    return h0 >> 4, h0 & 0xF, h1 >> 4, h1 & 0xF, raw[2:]


def simhash_to_code(simhash: int) -> str:
    """int64 simhash -> canonical CONTENT_TEXT_V0 64-bit ISCC unit string."""
    body = (simhash & (2**64 - 1)).to_bytes(8, "big")
    return encode_unit(body)


def code_to_simhash(code: str) -> int:
    mt, st, ver, ln, body = decode_unit(code)
    if (mt, st, ver, ln) != (MT_CONTENT, ST_TEXT, VERSION, LEN_64):
        raise ValueError(f"not a CONTENT_TEXT_V0 64-bit unit: {code}")
    return int.from_bytes(body, "big", signed=False) - (
        1 << 64 if body[0] & 0x80 else 0
    )


@F.pandas_udf(T.StringType())
def simhash_code_udf(simhash: pd.Series) -> pd.Series:
    return simhash.map(lambda v: simhash_to_code(int(v)))


# --- ISCC-ID v1: realm-scoped 64-bit identifiers (P4 realm predicate) --------
# The reference scopes every asset id to a REALM (0 = sandbox, 1 =
# production) carried in the ISCC-ID header's subtype nibble; queries
# validate ids against the index's expected realm and reject mismatches
# (iscc_search/indexes/common.py:129-144 extract_realm_id, 223-262
# validate_iscc_id).  Same header scheme as units: MainType ID, subtype =
# realm, version 0, length field 0 (64-bit v1), 8-byte body.

MT_ID = 6


def iscc_id_encode(body: int, realm: int) -> str:
    """(int64 body, realm 0/1) -> canonical ISCC-ID string."""
    if realm not in (0, 1):
        raise ValueError(f"invalid realm: {realm}")
    return encode_unit(_i64_body(body), MT_ID, realm, length=0)


def iscc_id_decode(code: str) -> tuple[int, int]:
    """ISCC-ID string -> (realm, int64 body); raises ValueError on any
    malformation (the reference's validate_iscc_id checks)."""
    if not code or not code.startswith("ISCC:"):
        raise ValueError(f"invalid ISCC-ID format: {code!r}")
    try:
        mt, st, ver, ln, body = decode_unit(code)
    except Exception as e:
        raise ValueError(f"invalid ISCC-ID base32: {e}")
    if mt != MT_ID:
        raise ValueError(f"not an ISCC-ID (maintype {mt}): {code}")
    if ver != 0 or ln != 0 or len(body) != 8:
        raise ValueError(f"not a 64-bit ISCC-ID v1: {code}")
    if st not in (0, 1):
        raise ValueError(f"invalid realm {st}: {code}")
    return st, _body_i64(body)


def validate_iscc_id(code: str, expected_realm: int | None = None) -> None:
    """Reference-parity validation: format + optional realm check."""
    realm, _ = iscc_id_decode(code)
    if expected_realm is not None and realm != expected_realm:
        raise ValueError(
            f"realm mismatch: expected {expected_realm}, got {realm}: {code}"
        )


@F.pandas_udf(T.StringType())
def iscc_id_udf(body: pd.Series, realm: pd.Series) -> pd.Series:
    return pd.Series(
        [iscc_id_encode(int(b), int(r)) for b, r in zip(body, realm)]
    )


@F.pandas_udf(T.IntegerType())
def iscc_id_realm_udf(code: pd.Series) -> pd.Series:
    """Realm extracted by DECODING the id string (not trusted metadata)."""
    return pd.Series([iscc_id_decode(c)[0] for c in code], dtype="int32")


# --- WIDE units: 128/192/256-bit bodies through the string codec (F3) --------
# The reference's unit bodies span 64..256 bits (iscc_search/models.py:
# 225-316).  The length nibble is (bits/32)-1 = 1/3/5/7 — all plain nibble
# values, so the same 2-byte header covers every width.  Limbs are 64-bit
# signed ints, HIGH limb first (limb order matches the NPHD prefix order).


def limbs_to_code(
    limbs: list[int], maintype: int = MT_CONTENT, subtype: int = ST_TEXT
) -> str:
    """1-4 int64 limbs (high first) -> canonical unit string."""
    if not 1 <= len(limbs) <= 4:
        raise ValueError("1..4 limbs supported (64..256 bit)")
    body = b"".join((v & (2**64 - 1)).to_bytes(8, "big") for v in limbs)
    return encode_unit(body, maintype, subtype)


def code_to_limbs(code: str) -> tuple[int, int, int, list[int], int]:
    """Unit string -> (maintype, subtype, version, limbs_high_first, bits)."""
    mt, st, ver, ln, body = decode_unit(code)
    bits = (ln + 1) * 32
    if len(body) * 8 != bits or bits % 64:
        raise ValueError(f"unsupported unit width: {bits} bits")
    limbs = []
    for i in range(0, len(body), 8):
        u = int.from_bytes(body[i : i + 8], "big")
        limbs.append(u - (1 << 64) if u >= (1 << 63) else u)
    return mt, st, ver, limbs, bits


@F.pandas_udf(T.StringType())
def wide_code_udf(limbs: pd.Series, bits: pd.Series) -> pd.Series:
    """(array<long> of exactly 4 ZERO-PADDED limbs high-first, bits) ->
    canonical WIDE unit string.  The array must be null-free (pad with 0,
    see wide_code_expr): pandas NaN-boxes nullable int64 into float64,
    silently corrupting limbs above 2^53."""
    out = []
    for arr, n in zip(limbs, bits):
        out.append(limbs_to_code([int(v) for v in arr[: int(n) // 64]]))
    return pd.Series(out)


def wide_code_expr(u0, u1, u2, u3, bits):
    """Column helper: builds the null-free limb array for wide_code_udf."""
    cols = [F.col(c) if isinstance(c, str) else c for c in (u0, u1, u2, u3)]
    arr = F.array(*[F.coalesce(c, F.lit(0)) for c in cols])
    b = F.col(bits) if isinstance(bits, str) else bits
    return wide_code_udf(arr, b)


# --- ISCC-CODE <-> units composition (F4) -----------------------------------
# The composite form: MainType ISCC header + concatenated 64-bit unit bodies
# (dynamic META/SEMANTIC/CONTENT units first, then the static DATA and
# INSTANCE tail), decomposable back into typed units — mirroring the
# reference's IsccCode.units loop (iscc_search/models.py:258-316).  The
# units-presence nibble is a 3-bit mask (META<<2 | SEMANTIC<<1 | CONTENT),
# this codec's frozen convention for the length field of composite headers.

MT_META = 0
MT_SEMANTIC = 1
MT_DATA = 3
MT_INSTANCE = 4
MT_ISCC = 5

_DYNAMIC = (MT_META, MT_SEMANTIC, MT_CONTENT)


def compose_iscc(units: list[tuple[int, int, bytes]]) -> str:
    """[(maintype, subtype, 8-byte body)] -> composite ISCC-CODE string.

    DATA and INSTANCE units are required (the reference's minimum,
    models.py:263-265); META/SEMANTIC/CONTENT are optional."""
    by_mt = {mt: (st, body) for mt, st, body in units}
    if MT_DATA not in by_mt or MT_INSTANCE not in by_mt:
        raise ValueError("ISCC-CODE requires DATA and INSTANCE units")
    for mt, st, body in units:
        if len(body) != 8:
            raise ValueError("composite units must have 64-bit bodies")
    mask = sum(
        1 << (2 - i) for i, mt in enumerate(_DYNAMIC) if mt in by_mt
    )
    # composite subtype follows the content unit's subtype (or NONE)
    st_iscc = by_mt.get(MT_CONTENT, (0, b""))[0]
    body = b"".join(by_mt[mt][1] for mt in _DYNAMIC if mt in by_mt)
    body += by_mt[MT_DATA][1] + by_mt[MT_INSTANCE][1]
    raw = _header(MT_ISCC, st_iscc, VERSION, mask) + body
    b32 = base64.b32encode(raw).decode("ascii").rstrip("=")
    return "ISCC:" + b32


def decompose_iscc(code: str) -> list[tuple[int, int, int, bytes]]:
    """Composite ISCC-CODE -> [(maintype, subtype, version, 8-byte body)],
    dynamic units first then DATA and INSTANCE (models.py:268-316 order)."""
    mt, st, ver, mask, body = decode_unit(code)
    if mt != MT_ISCC:
        # a bare unit decomposes to itself
        return [(mt, st, ver, body)]
    out = []
    idx = 0
    for i, dmt in enumerate(_DYNAMIC):
        if mask & (1 << (2 - i)):
            sub = 0 if dmt == MT_META else st
            out.append((dmt, sub, ver, body[idx * 8 : (idx + 1) * 8]))
            idx += 1
    out.append((MT_DATA, 0, ver, body[-16:-8]))
    out.append((MT_INSTANCE, 0, ver, body[-8:]))
    return out


def _i64_body(v: int) -> bytes:
    return (int(v) & (2**64 - 1)).to_bytes(8, "big")


def _body_i64(b: bytes) -> int:
    u = int.from_bytes(b, "big")
    return u - (1 << 64) if u >= (1 << 63) else u


_UNITS_SCHEMA = T.StructType(
    [
        T.StructField("content_sh", T.LongType()),
        T.StructField("data_sh", T.LongType()),
        T.StructField("instance", T.LongType()),
    ]
)


@F.pandas_udf(_UNITS_SCHEMA)
def iscc_decompose_units_udf(code: pd.Series) -> pd.DataFrame:
    """ISCC-CODE string -> (content_sh, data_sh, instance) int64 bodies."""
    rows = []
    for c in code:
        units = {mt: _body_i64(b) for mt, _, _, b in decompose_iscc(c)}
        rows.append((units[MT_CONTENT], units[MT_DATA], units[MT_INSTANCE]))
    return pd.DataFrame(rows, columns=["content_sh", "data_sh", "instance"])


@F.pandas_udf(T.StringType())
def iscc_code_udf(content_sh: pd.Series, data_sh: pd.Series, instance: pd.Series) -> pd.Series:
    """(content simhash, data simhash, instance hash) int64s -> ISCC-CODE."""
    return pd.Series(
        [
            compose_iscc(
                [
                    (MT_CONTENT, ST_TEXT, _i64_body(c)),
                    (MT_DATA, 0, _i64_body(d)),
                    (MT_INSTANCE, 0, _i64_body(i)),
                ]
            )
            for c, d, i in zip(content_sh, data_sh, instance)
        ]
    )
