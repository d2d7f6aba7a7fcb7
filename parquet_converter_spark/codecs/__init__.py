"""Lightweight columnar codecs (dict, RLE, FOR+bitpack, delta, FSST)
with block framing and a sample-based cost-model auto-selector."""

from .arrow_blocks import decode_block_arrow, encode_block_arrow  # noqa: F401
from .blocks import CODECS, ELIGIBLE, block_codec, choose_codec  # noqa: F401
from .core import DeltaCodec, DictCodec, ForBitpackCodec, PlainCodec, RleCodec  # noqa: F401
from .fsst import FsstCodec  # noqa: F401
