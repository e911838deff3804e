"""The one codec between Arrow columns and the flat numpy vectors every
bulk pass works on: the reference's bulk API takes one flat key vector
and answers "in the same order as the input" (``src/bloom_filter.hpp:
55-58``), so each Python pass flattens its Arrow list column, works on
the flat vector, and wraps row-aligned results back into lists.

Layout. ``flat(col)`` gives ``(values, offsets, valid)``:

- ``values``: the child values of every row back to back (a string
  column's UTF-8 bytes as uint8). Numeric and boolean children come back
  as numpy in their own dtype (a decimal as int64 at scale 0, float64
  otherwise), any other child (struct, nested list) as the Arrow array
  of the same values.
- ``offsets``: len(col) + 1 int64 row boundaries starting at 0, so row i
  is ``values[offsets[i]:offsets[i + 1]]``. A scalar column has no
  offsets (``None``): row i is ``values[i]``.
- ``valid``: the element-validity mask, ``None`` when no element is
  NULL. A NULL element's slot reads 0 (False), never a float NaN cast.

Slices. The array's slice offset is honoured: values and offsets start
at the first row of the slice.

NULL rows. A NULL row comes back empty, even when its offsets span
child values (Arrow allows that, and Spark does not promise otherwise).
``rewrap(..., like=col)`` makes it NULL again.

NULL elements, one rule per kind of pass:

- builds drop them (``keys``);
- probes answer NULL at that slot (``rewrap(..., present=valid)``);
- passes that only move values (``remove_token_spans``, the vocabulary
  remap) carry them through as NULL;
- coders that need ids (window coders, BPE learn and apply) raise a
  ``ValueError`` naming them (``ids``);
- vector matrices raise too (``matrix``).

NULL row ids. A pass that carries an id column next to its payload
(``vec_id``, ``doc_id``, ``seq_id``) raises a ``ValueError`` naming the
column and its NULL count (``row_ids``), as ``ids`` does for elements:
an id read through a cast would come back as -2^63.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _is_string(t) -> bool:
    return pa.types.is_string(t) or pa.types.is_large_string(t)


def _is_list(t) -> bool:
    return pa.types.is_list(t) or pa.types.is_large_list(t)


def _numpy(arr: pa.Array):
    """(values, valid) of a scalar array: numpy in its own dtype with NULL
    slots read as 0, and the validity mask (None without NULLs); any
    other array type stays Arrow."""
    if pa.types.is_decimal(arr.type):
        arr = arr.cast(pa.int64() if arr.type.scale == 0 else pa.float64())
    if not (pa.types.is_integer(arr.type) or pa.types.is_floating(arr.type)
            or pa.types.is_boolean(arr.type)):
        return arr, None
    valid = None
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        arr = arr.fill_null(pa.scalar(0, pa.int8()).cast(arr.type))
    return arr.to_numpy(zero_copy_only=False), valid


def flat(col: pa.Array):
    """(values, offsets, valid) of a scalar, string, list or large_list
    column; see the module docstring for the layout."""
    if not (_is_list(col.type) or _is_string(col.type)):
        values, valid = _numpy(col)
        return values, None, valid
    if _is_list(col.type):
        offs = np.asarray(col.offsets, dtype=np.int64)
        child = col.values.slice(offs[0], offs[-1] - offs[0])
        values, valid = _numpy(child)
    else:  # straight from the offset and data buffers
        _, obuf, dbuf = col.buffers()
        otype = np.int64 if pa.types.is_large_string(col.type) else np.int32
        offs = (np.frombuffer(obuf, otype)[col.offset:col.offset + len(col) + 1]
                .astype(np.int64) if len(col) else np.zeros(1, np.int64))
        values = (np.frombuffer(dbuf, np.uint8)[offs[0]:offs[-1]]
                  if dbuf is not None else np.empty(0, np.uint8))
        valid = None
    offs = offs - offs[0]
    if col.null_count:
        lens = np.diff(offs)
        rows = col.is_valid().to_numpy(zero_copy_only=False)
        if lens[~rows].any():  # NULL rows that span values: drop those
            keep = np.repeat(rows, lens)
            values = (values[keep] if isinstance(values, np.ndarray)
                      else values.filter(pa.array(keep)))
            valid = None if valid is None else valid[keep]
            offs = np.r_[0, np.cumsum(lens * rows)]
    if valid is not None and valid.all():
        valid = None
    return values, offs, valid


def rewrap(values, offsets, present=None, like=None) -> pa.Array:
    """The inverse of ``flat``: a list array of ``values`` cut at
    ``offsets`` (a scalar array when ``offsets`` is None), with elements
    NULL where ``present`` is False. ``like`` gives the container type
    (string, large_string, list or large_list; list without it) and the
    NULL rows, which stay NULL; its child type is not imposed, so a probe
    wraps booleans like the int64 keys it read. ``rewrap(*flat(col),
    like=col)`` equals ``col``."""
    mask = None if present is None else ~np.asarray(present)
    if offsets is None:
        return pa.array(values, mask=mask)
    rows = None if like is None or not like.null_count else like.is_null()
    if like is not None and _is_string(like.type):
        large = pa.types.is_large_string(like.type)
        bitmap = None if rows is None else like.is_valid().buffers()[1]
        return pa.Array.from_buffers(
            like.type, len(offsets) - 1,
            [bitmap,
             pa.py_buffer(np.asarray(offsets, np.int64 if large else np.int32)),
             pa.py_buffer(np.ascontiguousarray(values, np.uint8))],
            null_count=like.null_count)
    large = like is not None and pa.types.is_large_list(like.type)
    child = (values if isinstance(values, pa.Array)
             else pa.array(values, mask=mask))
    return (pa.LargeListArray if large else pa.ListArray).from_arrays(
        pa.array(offsets, pa.int64() if large else pa.int32()), child,
        mask=rows)


def keys(col: pa.Array) -> np.ndarray:
    """The build rule: every non-NULL value of a scalar or list column as
    one contiguous vector (NULL rows and NULL elements dropped), float64
    for a floating column so quantile sketches see the values, int64
    otherwise. Hash sketches read either as int64 (``hashing.xxh64_u64``)."""
    if _is_string(col.type):
        raise TypeError(f"sketch keys must be numbers, not {col.type}")
    values, _, valid = flat(col)
    values = np.asarray(values if valid is None else values[valid])
    return np.ascontiguousarray(
        values, np.float64 if values.dtype.kind == "f" else np.int64)


def ids(col: pa.Array):
    """(int64 values, offsets) of a list column for coders that need every
    element as an id; a NULL element raises ``ValueError``."""
    values, offsets, valid = flat(col)
    if valid is not None:
        raise ValueError(
            f"token ids hold {int((~valid).sum())} NULL elements; drop or "
            "fill them before coding")
    return np.asarray(values, dtype=np.int64), offsets


def row_ids(batch: pa.RecordBatch, i: int = 0) -> np.ndarray:
    """Column ``i`` of ``batch`` as int64 row ids; NULL ids raise
    ``ValueError``."""
    col = batch.column(i)
    if col.null_count:
        raise ValueError(
            f"id column {batch.schema.names[i]!r} holds {col.null_count} "
            "NULL ids; drop or fill them first")
    return np.asarray(col.to_numpy(zero_copy_only=False), dtype=np.int64)


def matrix(col: pa.Array, dim: int | None = None,
           dtype=np.float64) -> np.ndarray:
    """(rows, dim) matrix of a list column of fixed-width vectors, ``dim``
    defaulting to the first row's width. Any other width, a NULL vector
    or a NULL element raises ``ValueError`` naming what it saw."""
    values, offsets, valid = flat(col)
    widths = np.diff(offsets)
    if dim is None:
        dim = int(widths[0]) if widths.size else 0
    if col.null_count or valid is not None or (widths != dim).any():
        seen = sorted(set(widths[col.is_valid().to_numpy(
            zero_copy_only=False)].tolist()))[:5]
        nulls = (f", {col.null_count} NULL vectors" if col.null_count
                 else "") + (", NULL elements" if valid is not None else "")
        raise ValueError(f"requires fixed-width vectors of width {dim}; "
                         f"saw widths {seen}{nulls}")
    return np.asarray(values, dtype=dtype).reshape(len(col), dim)
