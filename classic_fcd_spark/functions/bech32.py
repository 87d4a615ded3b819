"""bech32 address algebra as vectorized pandas UDFs — SURVEY §2.10 item 1.

The reference converts between account/operator/consensus encodings of the
same 20-byte payload (src/lib/common.ts:73-93).  bech32 is the public
BIP-173 encoding; the tables below are from the published spec, not from
any implementation in the reference repo.

These are the engine's ONLY Python UDFs (everything else is built-in
Column algebra).  They are Arrow-batched pandas UDFs, so the per-row
Python cost is amortized over ~10k-row batches; at 100 TB this path is
used once at ingest (address normalization), never in serving queries.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_CHARSET = "qpzry9x8gf2tvdw0s3jn54khce6mua7l"
_GEN = (0x3B6A57B2, 0x26508E6D, 0x1EA119FA, 0x3D4233DD, 0x2A1462B3)


def _polymod(values):
    chk = 1
    for v in values:
        top = chk >> 25
        chk = (chk & 0x1FFFFFF) << 5 ^ v
        for i in range(5):
            chk ^= _GEN[i] if ((top >> i) & 1) else 0
    return chk


def _hrp_expand(hrp):
    return [ord(x) >> 5 for x in hrp] + [0] + [ord(x) & 31 for x in hrp]


def _verify_checksum(hrp, data):
    return _polymod(_hrp_expand(hrp) + data) == 1


def _create_checksum(hrp, data):
    values = _hrp_expand(hrp) + data
    polymod = _polymod(values + [0, 0, 0, 0, 0, 0]) ^ 1
    return [(polymod >> 5 * (5 - i)) & 31 for i in range(6)]


def bech32_decode(addr: str) -> tuple[str, list[int]] | None:
    if not addr or addr.lower() != addr and addr.upper() != addr:
        return None
    addr = addr.lower()
    pos = addr.rfind("1")
    if pos < 1 or pos + 7 > len(addr) or len(addr) > 90:
        return None
    hrp, data_part = addr[:pos], addr[pos + 1 :]
    if any(c not in _CHARSET for c in data_part):
        return None
    data = [_CHARSET.find(c) for c in data_part]
    if not _verify_checksum(hrp, data):
        return None
    return hrp, data[:-6]


def bech32_encode(hrp: str, data: list[int]) -> str:
    combined = data + _create_checksum(hrp, data)
    return hrp + "1" + "".join(_CHARSET[d] for d in combined)


def _convertbits(data, frombits, tobits, pad=True):
    acc = bits = 0
    ret = []
    maxv = (1 << tobits) - 1
    for value in data:
        acc = (acc << frombits) | value
        bits += frombits
        while bits >= tobits:
            bits -= tobits
            ret.append((acc >> bits) & maxv)
    if pad and bits:
        ret.append((acc << (tobits - bits)) & maxv)
    return ret


def convert_prefix(addr: str, new_hrp: str) -> str | None:
    """terra1... ↔ terravaloper1... (same payload, new HRP) —
    reference semantics of src/lib/common.ts:73-80."""
    dec = bech32_decode(addr)
    if dec is None:
        return None
    return bech32_encode(new_hrp, dec[1])


def to_hex(addr: str) -> str | None:
    """bech32 → uppercase hex of the 20-byte payload
    (src/lib/common.ts:82-86)."""
    dec = bech32_decode(addr)
    if dec is None:
        return None
    return bytes(_convertbits(dec[1], 5, 8, False)).hex().upper()


def pubkey_to_address(pubkey_bytes: bytes, hrp: str = "terravalcons") -> str:
    """ripemd160(sha256(pubkey)) → bech32 (src/lib/common.ts:88-93)."""
    sha = hashlib.sha256(pubkey_bytes).digest()
    ripemd = hashlib.new("ripemd160", sha).digest()
    return bech32_encode(hrp, _convertbits(list(ripemd), 8, 5))


@F.pandas_udf(StringType())
def bech32_convert_to_valoper(addrs: pd.Series) -> pd.Series:
    return addrs.map(lambda a: convert_prefix(a, "terravaloper") if a else None)


@F.pandas_udf(StringType())
def bech32_to_hex(addrs: pd.Series) -> pd.Series:
    return addrs.map(lambda a: to_hex(a) if a else None)
