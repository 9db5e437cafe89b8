"""Nested-data -> relational star, as a pure DataFrame program.

Re-expression of the reference's JSON relational normalizer
(``dlt/common/normalizers/json/relational.py:153-390`` — flatten, list
explode, row-id generation, key propagation) in Spark-native terms:

- nested **structs** flatten to ``parent__child`` columns via nested field
  references — a single ``select`` projection, no shuffle, fully
  whole-stage-codegen;
- **arrays** become child tables via ``posexplode`` — ``_dlt_list_idx`` is
  the position, ``_dlt_parent_id`` the parent row id, and the child
  ``_dlt_id`` a deterministic hash of ``(parent_id, table, idx)``
  (reference ``relational.py:187-216``);
- **arrays of arrays** recurse through an intermediary single-``value``
  child (reference ``relational.py:233-273`` wraps them in
  ``{"list": v}``);
- scalar arrays land in a ``value`` column;
- **maps** and anything nested beyond ``max_nesting`` are kept as
  serialized JSON text (reference ``relational.py:107,422-428``);
- the root ``_dlt_id`` is ``uuid()`` / key-hash / row-hash selected by the
  merge strategy (reference ``helpers.py:107-120,161-180``) and
  ``_dlt_root_id`` is carried through the entire explode chain **without
  joins** — propagation is just a retained column.

Scale notes: flatten and explode are narrow transformations — no shuffle
is introduced anywhere in normalization, so a 100 TB nested scan
normalizes at scan parallelism.  Row ids are computed executor-side with
``sha2``/``uuid`` built-ins (JVM codegen, no Python).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema.naming import SnakeCaseNaming
from ..schema.typing import (
    C_DLT_ID,
    C_DLT_LIST_IDX,
    C_DLT_LOAD_ID,
    C_DLT_PARENT_ID,
    C_DLT_ROOT_ID,
    C_VALUE,
)

ROW_ID_LEN = 32  # hex chars kept from sha256 (128 bits)


def child_table_name(naming: SnakeCaseNaming, parent: str, field: str) -> str:
    return naming.normalize_path(naming.make_path(parent, field))


def key_hash(*cols: Column) -> Column:
    """Deterministic row key: first 128 bits of sha256 over '|'-joined
    string forms.  DuckDB-reproducible:
    ``substr(sha256(concat_ws('|', ...)), 1, 32)``."""
    return F.substring(
        F.sha2(F.concat_ws("|", *[c.cast("string") for c in cols]), 256), 1, ROW_ID_LEN
    )


def child_row_id(parent_id: Column, table_name: str, idx: Column) -> Column:
    """Deterministic child id — hash of (parent id, table, list index)
    (reference ``relational.py:206-216`` digest128 recipe, re-specified
    portably as sha256)."""
    return key_hash(parent_id, F.lit(table_name), idx)


def row_hash(df_cols: Sequence[str], exclude: Sequence[str] = ()) -> Column:
    """Whole-row content hash over payload columns in name order, with an
    explicit NULL marker so (NULL,'x') != ('x',NULL).  Used for scd2 row
    ids (reference ``helpers.py:107-120``)."""
    payload = sorted(c for c in df_cols if c not in exclude and not c.startswith("_dlt_"))
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x01NULL\x01")) for c in payload]
    return F.substring(F.sha2(F.concat_ws("|", *parts), 256), 1, ROW_ID_LEN)


def _is_complex(t: T.DataType) -> bool:
    return isinstance(t, (T.StructType, T.ArrayType, T.MapType))


def flatten_structs(
    df: DataFrame,
    naming: SnakeCaseNaming,
    max_nesting: int = 100,
    _prefix: str = "",
    _depth: int = 0,
) -> DataFrame:
    """Recursively expand StructType columns into ``a__b`` top-level
    columns (reference ``relational.py:153-185 _flatten``).  Pure
    projection — one ``select``, zero shuffles.  MapType and columns at
    ``max_nesting`` are serialized to JSON text."""
    cols: List[Column] = []
    changed = False
    for field in df.schema.fields:
        name, dtype = field.name, field.dataType
        if isinstance(dtype, T.StructType) and _depth < max_nesting:
            changed = True
            for sub in dtype.fields:
                # empty keys -> `_empty`-style placeholder (the naming
                # convention renders leading '_' via collapse); reference
                # uses `_empty` sentinel for '' keys
                sub_name = sub.name if sub.name.strip() else "_empty"
                # normalize per __-separated segment so already-joined
                # paths (second flatten pass) keep their separators
                out_name = naming.normalize_path(naming.make_path(name, sub_name))
                cols.append(F.col(f"`{name}`.`{sub.name}`").alias(out_name))
        elif isinstance(dtype, T.MapType) or (
            _is_complex(dtype) and _depth >= max_nesting
        ):
            changed = True
            cols.append(F.to_json(F.col(f"`{name}`")).alias(_norm_col(naming, name)))
        else:
            norm = _norm_col(naming, name)
            if norm != name:
                changed = True
            cols.append(F.col(f"`{name}`").alias(norm))
    if not changed:
        return df
    out = df.select(*cols)
    # a struct may contain further structs — recurse until fixpoint
    if any(isinstance(f.dataType, T.StructType) for f in out.schema.fields):
        return flatten_structs(out, naming, max_nesting, _prefix, _depth + 1)
    return out


def _norm_col(naming: SnakeCaseNaming, name: str) -> str:
    if name.startswith("_dlt_"):
        return name
    return naming.normalize_path(name)


class RelationalNormalizer:
    """Normalizes one root DataFrame (arbitrarily nested) into a dict of
    flat DataFrames keyed by table name: the root plus one table per list
    path, linked by ``_dlt_parent_id``/``_dlt_list_idx``/``_dlt_root_id``.
    """

    def __init__(
        self,
        naming: Optional[SnakeCaseNaming] = None,
        max_nesting: int = 100,
        root_key: bool = False,
        propagate: Optional[Dict[str, str]] = None,
        include_paths: Optional[Sequence[str]] = None,
        exclude_paths: Optional[Sequence[str]] = None,
    ) -> None:
        self.naming = naming or SnakeCaseNaming()
        self.max_nesting = max_nesting
        # propagate root _dlt_id to every descendant as _dlt_root_id
        # (needed by merge dispositions, reference relational.py:326-390)
        self.root_key = root_key
        # extra root col -> child col propagation (e.g. partition keys)
        self.propagate = dict(propagate or {})
        # row filters: regex include/exclude over flattened column paths
        # (reference jsonl.py:430-474 _filter_row, typing.py:229-232);
        # computed as a column drop — pure projection, no row scan
        import re as _re

        self._include = [_re.compile(p) for p in include_paths or []]
        self._exclude = [_re.compile(p) for p in exclude_paths or []]

    def normalize(
        self,
        df: DataFrame,
        table_name: str,
        load_id: Optional[str] = None,
        row_id_type: str = "random",  # random | key_hash | row_hash
        primary_key: Optional[Sequence[str]] = None,
    ) -> Dict[str, DataFrame]:
        root_name = self.naming.normalize_table_identifier(table_name)
        out: Dict[str, DataFrame] = {}
        self._normalize_level(
            self.root_rows(df, load_id, row_id_type, primary_key), root_name, out, is_root=True
        )
        return out

    def root_rows(
        self,
        df: DataFrame,
        load_id: Optional[str] = None,
        row_id_type: str = "random",
        primary_key: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """The root rows as :meth:`normalize` sees them before it explodes
        lists: structs flattened, ``_dlt_id`` and ``_dlt_load_id`` added
        (an existing column is kept).  Normalizing this frame again yields
        the same tables, so a caller can filter root rows in between."""
        df = flatten_structs(df, self.naming, self.max_nesting)

        if C_DLT_ID not in df.columns:
            if row_id_type == "key_hash":
                if not primary_key:
                    raise ValueError("key_hash row ids require a primary_key")
                pk = [self.naming.normalize_path(c) for c in primary_key]
                rid = key_hash(*[F.col(c) for c in pk])
            elif row_id_type == "row_hash":
                rid = row_hash(df.columns)
            else:
                rid = F.expr("uuid()")
            df = df.withColumn(C_DLT_ID, rid)
        if load_id is not None and C_DLT_LOAD_ID not in df.columns:
            df = df.withColumn(C_DLT_LOAD_ID, F.lit(load_id))
        return df

    # -- internals --

    def _apply_path_filters(self, df: DataFrame) -> DataFrame:
        if not self._include and not self._exclude:
            return df
        keep = []
        for c in df.columns:
            if c.startswith("_dlt_"):
                keep.append(c)
                continue
            if self._include and not any(rx.search(c) for rx in self._include):
                continue
            if self._exclude and any(rx.search(c) for rx in self._exclude):
                continue
            keep.append(c)
        return df.select(*[f"`{c}`" for c in keep]) if keep != df.columns else df

    def _normalize_level(
        self,
        df: DataFrame,
        table_name: str,
        out: Dict[str, DataFrame],
        is_root: bool,
        depth: int = 0,
    ) -> None:
        df = flatten_structs(df, self.naming, self.max_nesting - depth)
        df = self._apply_path_filters(df)
        array_fields = [
            f for f in df.schema.fields if isinstance(f.dataType, T.ArrayType)
        ]
        # documents/embeddings-style data arrays can legitimately stay as
        # array columns; only explode past max_nesting guard
        if depth >= self.max_nesting:
            for f in array_fields:
                df = df.withColumn(f.name, F.to_json(F.col(f.name)))
            out[table_name] = df
            return

        parent_cols = [f.name for f in df.schema.fields if not isinstance(f.dataType, T.ArrayType)]
        out[table_name] = df.select(*[f"`{c}`" for c in parent_cols])

        carry: List[Column] = [F.col(C_DLT_ID).alias(C_DLT_PARENT_ID)]
        if self.root_key:
            root_id_col = C_DLT_ID if is_root else C_DLT_ROOT_ID
            carry.append(F.col(root_id_col).alias(C_DLT_ROOT_ID))
        for src, dst in self.propagate.items():
            if src in df.columns:
                carry.append(F.col(src).alias(dst))

        for f in array_fields:
            child_name = child_table_name(self.naming, table_name, f.name)
            elem = f.dataType.elementType  # type: ignore[union-attr]
            exploded = df.select(
                *carry, F.posexplode(F.col(f"`{f.name}`")).alias(C_DLT_LIST_IDX, C_VALUE)
            )
            exploded = exploded.withColumn(
                C_DLT_ID, child_row_id(F.col(C_DLT_PARENT_ID), child_name, F.col(C_DLT_LIST_IDX))
            )
            if isinstance(elem, T.StructType):
                # expand the struct payload into columns, keep link columns
                exploded = exploded.select(
                    *[c for c in exploded.columns if c != C_VALUE],
                    F.col(C_VALUE + ".*"),
                )
                exploded = flatten_structs(exploded, self.naming, self.max_nesting - depth)
            elif isinstance(elem, T.ArrayType):
                # list-of-lists: `value` still an array -> recurse creates
                # the grandchild (reference intermediary {"list": v})
                pass
            elif isinstance(elem, T.MapType):
                exploded = exploded.withColumn(C_VALUE, F.to_json(F.col(C_VALUE)))
            self._normalize_level(
                exploded, child_name, out, is_root=False, depth=depth + 1
            )


def normalize_json_strings(
    df: DataFrame,
    json_col: str,
    naming: Optional[SnakeCaseNaming] = None,
    sample_ratio: float = 1.0,
) -> DataFrame:
    """Schema-first parse of a JSON-text column: infer the struct schema
    from the data (one pass), then ``from_json`` + flatten (second pass).
    This is the two-pass answer to per-row schema drift (SURVEY §7 hard
    parts) — at 100 TB run inference on a sample, not the full scan."""
    naming = naming or SnakeCaseNaming()
    sample = df if sample_ratio >= 1.0 else df.sample(sample_ratio, seed=42)
    inferred = (
        sample.sparkSession.read.json(
            sample.select(json_col).rdd.map(lambda r: r[0] or "{}")
        ).schema
        if sample_ratio < 1.0
        else df.sparkSession.read.json(df.select(json_col).rdd.map(lambda r: r[0] or "{}")).schema
    )
    parsed = df.withColumn(json_col, F.from_json(F.col(json_col), inferred))
    return flatten_structs(parsed, naming)
