"""NestedTransformer — config-driven nested-field transforms, the reference's
core capability re-expressed Spark-first.

API/semantics parity with the reference's ``Functioniser``
(``/root/reference/src/config_driven_pyspark/functioniser.py:16-207``), all
behaviors pinned by tests in ``tests/test_transform.py``:

- ``add(path, fn)`` registers one flattened-path → Column-function mapping;
  string names resolve custom registry first then the full
  ``pyspark.sql.functions`` namespace, else ``ValueError``; a bare ``Column``
  becomes a constant; repeat-add on one path composes (later applied after
  earlier). Chainable.
- ``apply(df)`` resolves every path against the DataFrame schema
  (case-insensitive, arrays implicit) and emits ONE ``df.select`` — a single
  Catalyst Project. Untouched columns pass through byte-identical; new root
  columns are appended after existing ones, sorted alphabetically; struct
  members rewrite via ``withField``/``getField``; arrays map element-wise via
  ``F.transform`` (one per ``[]`` level — improving on the reference's
  single-level boolean, SURVEY.md §1.2); functions applied to other columns
  see *pre-transform* input values (everything lands in one select over the
  original df — ``README.md:36-41`` semantics).
- missing leaf → warning + attempt-create (new root, or new member on an
  existing parent struct at any depth, including inside arrays); missing
  parent → ``ValueError``. Creating functions must ignore their input arg.
- ``register_function(name, fn)`` adds by-name custom functions that shadow
  Spark builtins; ``reset()`` clears per-DataFrame state but keeps the
  custom registry.

At scale this whole operator is a zero-shuffle narrow Project over whatever
partitioning the input already has, and whole-stage codegen fuses the
expression tree. Plan size and per-row cost are O(touched leaves) regardless
of table width because the lowering reads every sibling from its struct's
input value and only chains the ``withField`` calls (``plans/lowering.py``);
``drop_nested`` does the same.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field as dc_field
from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from config_driven_pyspark_spark.functions.registry import (
    DfFunction,
    FunctionLike,
    FunctionRegistry,
    compose,
)
from config_driven_pyspark_spark.plans.lowering import lower_root
from config_driven_pyspark_spark.plans.path_tree import build_path_tree, resolve_tokens
from config_driven_pyspark_spark.schema import flatten_schema, strip_brackets, wrappers_of

_transform_logger = logging.getLogger(__name__)


class NestedTransformer:
    """Applies configured Column functions to (possibly deeply nested) fields."""

    def __init__(self) -> None:
        self.registry = FunctionRegistry()
        self.reset()

    def reset(self) -> None:
        """Clear configured functions + cached flat schema for a new DataFrame.

        The custom function registry survives (parity:
        ``functioniser.py:29-32`` — ``reset`` does not touch
        ``_custom_functions``).
        """
        self.functions: dict[str, DfFunction] = {}
        self.flat_schema: list[str] = []

    def add(self, field: str, function: FunctionLike) -> "NestedTransformer":
        """Register a function for a flattened field path; chainable."""
        field = field.lower()
        fn = self.registry.resolve(function)
        if field in self.functions:
            self.functions[field] = compose(self.functions[field], fn)
        else:
            self.functions[field] = fn
        return self

    def register_function(self, name: str, func: Union[Column, DfFunction]) -> None:
        """Register a custom by-name function (shadows Spark builtins)."""
        self.registry.register(name, func)

    def apply(self, df: DataFrame) -> DataFrame:
        """Apply all configured functions in a single ``select``."""
        self.flat_schema = flatten_schema(df)
        tree = build_path_tree(self.functions, self.flat_schema)

        existing = {c.lower() for c in df.columns}
        new_roots = sorted(
            node.name for key, node in tree.children.items() if key not in existing
        )
        # original column order first, then created roots alphabetically
        # (pinned by reference test test_functioniser.py:92-107)
        root_names = list(df.columns) + new_roots

        select_cols: list[Column] = []
        for root in root_names:
            # created roots get a dummy context; their functions ignore it
            ctx = F.col(root) if root.lower() in existing else F.lit(None)
            select_cols.append(lower_root(ctx, tree.child(root)).alias(root))
        return df.select(*select_cols)


# ---------------------------------------------------------------------------
# nested drop — the extension the reference sketches but never implements
# (``/root/reference/README.md:98-102`` describes a nested drop-based select
# as future work). Same path addressing as NestedTransformer: dotted,
# case-insensitive, array/map levels implicit from the schema.
# ---------------------------------------------------------------------------


@dataclass
class _DropNode:
    wrappers: tuple[str, ...] = ()
    children: dict[str, "_DropNode"] = dc_field(default_factory=dict)
    drops: list[str] = dc_field(default_factory=list)


def _drop_value(ctx: Column, node: _DropNode) -> Column:
    # children read from the struct after this level's drops, never from one
    # carrying a sibling's rewrite, which would double the tree per sibling
    if node.drops:
        ctx = ctx.dropFields(*node.drops)
    base = ctx
    for name, child in node.children.items():
        ctx = ctx.withField(name, _drop_wrap(base.getField(name), child.wrappers, child))
    return ctx


def _drop_wrap(ctx: Column, wrappers: tuple[str, ...], node: _DropNode) -> Column:
    if not wrappers:
        return _drop_value(ctx, node)
    head, rest = wrappers[0], wrappers[1:]
    if head == "a":
        return F.transform(ctx, lambda element: _drop_wrap(element, rest, node))
    return F.transform_values(ctx, lambda _k, value: _drop_wrap(value, rest, node))


def drop_nested(df: DataFrame, paths: list[str]) -> DataFrame:
    """Drop columns OR nested struct fields by flattened path, in one
    ``select``.

    ``"a"`` drops a root column (plain ``df.drop`` semantics); ``"a.b.c"``
    drops field ``c`` from struct ``a.b``, rebuilding only the ancestors on
    the path — through array levels with ``F.transform`` and map levels with
    ``F.transform_values`` (``Column.dropFields`` on the parent context).
    Paths are case-insensitive with containers implicit, exactly like
    ``NestedTransformer.add``. A path that resolves to nothing warns and is
    skipped (mirroring the transformer's missing-leaf warning contract).

    Scale: a zero-shuffle narrow Project; dropping early also lets Catalyst
    prune the dropped leaves out of the parquet ``ReadSchema`` when nothing
    else references them.
    """
    flat = flatten_schema(df)
    root = _DropNode()
    top_level: set[str] = set()
    for path in paths:
        tokens = resolve_tokens(path, flat)
        if tokens is None:
            _transform_logger.warning(
                "Field %s not found in input schema; nothing to drop.", path
            )
            continue
        segments = tokens.split(".")
        if len(segments) == 1:
            top_level.add(strip_brackets(segments[0]).lower())
            continue
        current = root
        for segment in segments[:-1]:
            name = strip_brackets(segment)
            node = current.children.get(name)
            if node is None:
                node = current.children[name] = _DropNode(wrappers_of(segment))
            current = node
        current.drops.append(strip_brackets(segments[-1]))

    # prune drop subtrees under roots that are dropped wholesale
    select_cols: list[Column] = []
    for col_name in df.columns:
        if col_name.lower() in top_level:
            continue
        node = root.children.get(col_name) or next(
            (n for k, n in root.children.items() if k.lower() == col_name.lower()),
            None,
        )
        if node is None:
            select_cols.append(F.col(col_name))
        else:
            ctx = _drop_wrap(F.col(col_name), node.wrappers, node)
            select_cols.append(ctx.alias(col_name))
    return df.select(*select_cols)
