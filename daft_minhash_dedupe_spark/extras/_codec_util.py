"""Shared decoder-boundary error normalization.

The in-tree codecs parse fully untrusted bytes (web-crawled media
payloads). Their documented failure surface is ``ValueError`` /
``NotImplementedError`` ONLY, so a caller decoding many payloads can
catch exactly those to skip a bad one; any other exception type would
escape that handler (and a bare ``StopIteration`` inside a generator is
silently swallowed, which is worse).

Inside a parser, a truncated header surfaces as ``struct.error`` /
``IndexError``, a lying length field as ``KeyError`` on a table lookup,
a corrupt stream as ``zlib.error`` / ``EOFError`` — for untrusted input
these ARE "malformed payload" signals, so the public decode entry points
normalize them to ``ValueError`` here instead of guarding every slice.
Hot-path cost is zero (one try frame per payload, not per token).
"""

from __future__ import annotations

import functools
import struct
import wave
import zlib
from collections.abc import Callable
from typing import TypeVar

_T = TypeVar("_T")

# Parse-layer exception types that mean "the payload lied to us".
_PARSE_ERRORS = (
    struct.error,
    IndexError,
    KeyError,
    zlib.error,
    EOFError,
    StopIteration,
    wave.Error,
    # stdlib wave/chunk raise a bare RuntimeError when a lying chunk-size
    # field drives a seek past the end of the stream
    RuntimeError,
)


# Decompression-bomb guard: a crafted payload can declare enormous
# dimensions (GIF/AVI headers are unchecksummed; a PNG deflate bomb can
# carry valid CRCs), and a single 65535x65535 RGB canvas is ~12 GB — one
# corrupt row would OOM the executor that maps its Arrow batch. 2**27
# pixels (~134 MP, 400 MB RGB) is far above any legitimate web asset.
MAX_PIXELS = 1 << 27


def check_dims(width: int, height: int, what: str) -> None:
    """Raise ValueError for non-positive or absurdly large declared
    dimensions BEFORE any canvas/stream allocation happens."""
    if width <= 0 or height <= 0:
        raise ValueError(f"{what} declares empty canvas {width}x{height}")
    if width * height > MAX_PIXELS:
        raise ValueError(
            f"{what} declares {width}x{height} = {width * height} px "
            f"(> {MAX_PIXELS} guard; likely corrupt or a decompression bomb)"
        )


def loud_decoder(fn: Callable[..., _T]) -> Callable[..., _T]:
    """Wrap a public ``decode_*(payload, ...)`` entry point so every
    parse-layer exception escapes as a descriptive ``ValueError``.
    ``ValueError`` and ``NotImplementedError`` pass through untouched."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (ValueError, NotImplementedError):
            raise
        except _PARSE_ERRORS as e:
            raise ValueError(
                f"{fn.__name__}: malformed payload ({type(e).__name__}: {e})"
            ) from e

    return wrapped
