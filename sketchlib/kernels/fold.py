"""The one merge fold, and the blob-length check, shared by the sibling
sketch kernels."""

from __future__ import annotations


class FoldMerge:
    """Mixin: ``merge(parts)`` folds sketches or their blobs into a fresh
    sketch, one part at a time. Each part is decoded just before it is
    merged, so a task merging many blobs holds the raw blobs plus one
    decoded sketch, not every decoded sketch at once. Subclasses supply
    ``from_bytes``, ``merge_with`` and ``_empty_like``."""

    __slots__ = ()

    @classmethod
    def merge(cls, parts):
        out = None
        for p in parts:
            s = p if isinstance(p, cls) else cls.from_bytes(p)
            if out is None:
                out = s._empty_like()
            out.merge_with(s)
        if out is None:
            raise ValueError("merge needs at least one part")
        return out

    @staticmethod
    def _body(blob: bytes, header: int, nbytes: int) -> bytes:
        """The body after a ``header``-byte header, which must be exactly the
        ``nbytes`` the header declares: a truncated or padded blob raises
        ``ValueError`` instead of decoding to a different sketch."""
        if len(blob) != header + nbytes:
            raise ValueError(f"blob is {len(blob)} bytes, its header declares {header + nbytes}")
        return blob[header:]
