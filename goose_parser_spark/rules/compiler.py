"""Rule compiler: goose-parser rule JSON → compiled plan + Spark schema.

The reference interprets the rule JSON directly, page at a time, with
one browser IPC round-trip per rule (SURVEY.md §3.1). We instead
compile ONCE on the driver:

1. validate + normalize the rule JSON (the goose dialect is accepted
   verbatim, including rule files containing dynamic actions, which are
   warned about and ignored — SURVEY.md §2.6 A4/A5, FIXTURES.md F-20);
2. parse every ``scope``/``parentScope`` selector into a matcher;
3. compile every transform chain (JS-semantics shims, §2.5);
4. derive the output ``StructType`` statically by walking the tree
   (SURVEY.md §1.2 — the output shape is fully determined by the rule
   JSON, nothing is inferred from data).

The resulting ``CompiledRules`` object is pickled into the closure the
map kernel (kernel.map_docs) runs — effectively a broadcast of the
plan to all executors.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql.types import ArrayType, DataType, StringType, StructField, StructType

from goose_parser_spark.dom.selector import Selector, parse_selector
from goose_parser_spark.rules import conventions
from goose_parser_spark.functions.transforms import (
    CompiledTransform,
    TransformRegistry,
    default_registry,
)

logger = logging.getLogger("goose_parser_spark")


class RuleError(ValueError):
    pass


# Action types that require a live browser page; accepted & ignored so
# reference rule files load unmodified (SURVEY.md §2.6 A4/A5, F-20).
DYNAMIC_ACTIONS = frozenset(
    """wait waitForVisible waitForPattern waitForPage waitForQuery pause
    click type mousedown mouseup focus blur back changeElement snapshot
    open scroll""".split()
)


@dataclass
class CompiledRule:
    """One node of the compiled rule tree."""

    name: str | None
    scope: Selector | None
    parent_scope: Selector | None
    attr: str | None
    prop: str | None
    separator: str
    is_array: bool
    is_grid: bool
    children: list["CompiledRule"]
    transforms: list[CompiledTransform]
    is_id: bool = False
    virtual: bool = False
    max_results: int | None = None   # P3 maxResultsCount analog: caps grid rows
    data_type: DataType = field(default_factory=StringType)
    # native lowering (functions/native.py): the trailing
    # `lowered_specs` steps of the transform chain run post-UDF as
    # Column expressions; the UDF executes only transforms[:n_python].
    # `transforms` always holds the FULL Python chain so the pure
    # evaluate_document() path stays byte-identical on its own.
    lowered_specs: list[dict] = field(default_factory=list)
    udf_data_type: DataType = field(default_factory=StringType)

    @property
    def n_python(self) -> int:
        return len(self.transforms) - len(self.lowered_specs)

    @property
    def is_collection(self) -> bool:
        return bool(self.children) and not self.is_grid

    def clear_lowering(self) -> None:
        self.lowered_specs = []
        self.udf_data_type = self.data_type
        for c in self.children:
            c.clear_lowering()


@dataclass
class Branch:
    """One conditional branch: all guards must match for the branch's
    rule subtree to be chosen (SURVEY.md §2.6 A1-A3)."""

    guards: list[Selector]          # `exist` selectors; empty = default branch
    rules: CompiledRule


@dataclass
class CompiledRules:
    """Compiled parse spec: either a single rule tree or a conditional
    set of branches, plus the derived output schema for the
    ``extracted`` column."""

    branches: list[Branch]
    schema: DataType                # FINAL type of the `extracted` column
    source: dict                    # normalized original spec (for lineage)
    udf_schema: DataType | None = None   # type the UDF emits pre-lowering
    # cached (tags, classes, ids) key universe of every selector in
    # the tree — lets DocIndex skip indexing names no rule references
    _index_universe: tuple[frozenset, frozenset, frozenset] | None = None

    def index_universe(self) -> tuple[frozenset, frozenset, frozenset]:
        """Union of index_keys() over every selector anywhere in the
        compiled tree (scopes, parentScopes, branch guards). Computed
        once per compiled spec; selectors are immutable post-parse."""
        if self._index_universe is None:
            from goose_parser_spark.dom.selector import index_keys
            tags: set[str] = set()
            classes: set[str] = set()
            ids: set[str] = set()

            def add(sel) -> None:
                if sel is None:
                    return
                t, c, i = index_keys(sel)
                tags.update(t)
                classes.update(c)
                ids.update(i)

            def walk(r: CompiledRule) -> None:
                add(r.scope)
                add(r.parent_scope)
                for ch in r.children:
                    walk(ch)

            for b in self.branches:
                for g in b.guards:
                    add(g)
                walk(b.rules)
            self._index_universe = (frozenset(tags), frozenset(classes),
                                    frozenset(ids))
        return self._index_universe

    @property
    def spark_field(self) -> StructField:
        return StructField("extracted", self.schema, nullable=True)

    @property
    def has_lowered(self) -> bool:
        def walk(r: CompiledRule) -> bool:
            return bool(r.lowered_specs) or any(walk(c) for c in r.children)
        return any(walk(b.rules) for b in self.branches)


def _merge_struct(a: DataType, b: DataType, path: str) -> DataType:
    """Merge two branch schemas into one (union of fields; same-named
    fields must agree). Non-taken branch fields are null at runtime."""
    if a == b:
        return a
    if isinstance(a, StructType) and isinstance(b, StructType):
        fields: dict[str, DataType] = {f.name: f.dataType for f in a.fields}
        order = [f.name for f in a.fields]
        for f in b.fields:
            if f.name in fields:
                fields[f.name] = _merge_struct(fields[f.name], f.dataType,
                                               f"{path}.{f.name}")
            else:
                fields[f.name] = f.dataType
                order.append(f.name)
        return StructType([StructField(n, fields[n], True) for n in order])
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(_merge_struct(a.elementType, b.elementType, path + "[]"))
    raise RuleError(f"conditional branches disagree on type at {path}: {a} vs {b}")


class RuleCompiler:
    """Compiles a goose parse spec (``{rules}``, ``{actions, rules}``,
    or a bare rule dict) into :class:`CompiledRules`."""

    def __init__(self, registry: TransformRegistry | None = None) -> None:
        self.registry = registry or default_registry()

    # -- public API ----------------------------------------------------------

    def compile(self, spec: dict) -> CompiledRules:
        if not isinstance(spec, dict):
            raise RuleError(f"parse spec must be a dict, got {type(spec).__name__}")
        spec = dict(spec)
        actions = spec.get("actions") or []
        rules = spec.get("rules")
        if rules is None and ("scope" in spec or "collection" in spec or "name" in spec):
            # bare rule dict passed directly
            rules = {k: v for k, v in spec.items() if k != "actions"}

        branches = self._compile_actions(actions, default_rules=rules)
        if not branches:
            raise RuleError("parse spec has no rules (and no provideRules branch)")

        if len(branches) > 1:
            # conditional trees never lower: the merged struct can't
            # tell which branch produced a row (functions/native.py)
            for br in branches:
                br.rules.clear_lowering()

        schema: DataType | None = None
        udf_schema: DataType | None = None
        for br in branches:
            t = self._root_type(br.rules)
            schema = t if schema is None else _merge_struct(schema, t, "$")
            u = self._root_type(br.rules, udf=True)
            udf_schema = u if udf_schema is None else _merge_struct(udf_schema, u, "$")
        assert schema is not None
        return CompiledRules(branches=branches, schema=schema, source=spec,
                             udf_schema=udf_schema)

    # -- actions / conditionals ------------------------------------------------

    def _compile_actions(self, actions: list, default_rules: dict | None) -> list[Branch]:
        """Walk the action list. Dynamic actions are warned + ignored;
        ``cases`` of ``exist`` guards + ``provideRules`` become
        conditional branches (FIXTURES.md F-17, F-20)."""
        branches: list[Branch] = []
        for action in actions:
            atype = action.get("type")
            if atype in DYNAMIC_ACTIONS:
                logger.warning(
                    "ignoring dynamic action %r (requires a live page; "
                    "see SURVEY.md §2.6)", atype)
                continue
            if atype == "exist":
                # top-level bare exist guard: gate the default rules
                sel = parse_selector(str(action["scope"]))
                if default_rules is not None:
                    branches.append(Branch([sel], self.compile_rule(default_rules)))
                    default_rules = None
                continue
            if atype == "cases":
                for case in action.get("cases", []):
                    guards: list[Selector] = []
                    case_rules: dict | None = None
                    for sub in case:
                        stype = sub.get("type")
                        if stype == "exist":
                            guards.append(parse_selector(str(sub["scope"])))
                        elif stype == "provideRules":
                            case_rules = sub.get("rules")
                        elif stype in DYNAMIC_ACTIONS:
                            logger.warning("ignoring dynamic action %r in cases", stype)
                        else:
                            raise RuleError(f"unsupported action in cases: {stype!r}")
                    if case_rules is None:
                        raise RuleError("cases branch without provideRules")
                    branches.append(Branch(guards, self.compile_rule(case_rules)))
                continue
            if atype == "provideRules":
                branches.append(Branch([], self.compile_rule(action.get("rules"))))
                continue
            logger.warning("ignoring unknown action type %r", atype)
        if default_rules is not None:
            branches.append(Branch([], self.compile_rule(default_rules)))
        return branches

    # -- rules -----------------------------------------------------------------

    def compile_rule(self, rule: dict) -> CompiledRule:
        if not isinstance(rule, dict):
            raise RuleError(f"rule must be a dict, got {type(rule).__name__}")
        unknown_dynamic = [a.get("type") for a in rule.get("actions", [])
                           if a.get("type") in DYNAMIC_ACTIONS]
        if unknown_dynamic:
            logger.warning("ignoring rule-level dynamic actions %s", unknown_dynamic)

        collection = rule.get("collection")
        is_grid = False
        children: list[CompiledRule] = []
        if collection is not None:
            if (isinstance(collection, list) and len(collection) == 1
                    and isinstance(collection[0], list)):
                is_grid = True
                child_specs = collection[0]
            elif isinstance(collection, list):
                child_specs = collection
            else:
                raise RuleError(f"collection must be a list, got {collection!r}")
            children = [self.compile_rule(c) for c in child_specs]
            for c in children:
                if c.name is None:
                    raise RuleError("collection children must have a 'name'")

        scope = rule.get("scope")
        parent_scope = rule.get("parentScope")
        raw_chain = list(rule.get("transform") or [])
        transforms = self.registry.compile_chain(raw_chain)
        # native lowering split: the longest byte-safe SUFFIX of the
        # chain runs post-UDF as Column expressions (functions/native.py)
        from goose_parser_spark.functions.native import python_prefix_len
        n_python = python_prefix_len(raw_chain,
                                     input_is_array=(rule.get("type") == "array"))
        lowered_specs = raw_chain[n_python:]

        max_results = rule.get("maxResultsCount")
        if max_results is not None and (not isinstance(max_results, int)
                                        or max_results < 0):
            raise RuleError(f"maxResultsCount must be a non-negative int, "
                            f"got {max_results!r}")

        compiled = CompiledRule(
            name=rule.get("name"),
            max_results=max_results,
            scope=parse_selector(str(scope)) if scope else None,
            parent_scope=parse_selector(str(parent_scope)) if parent_scope else None,
            attr=rule.get("attr"),
            prop=rule.get("prop"),
            separator=str(rule.get("separator",
                                    conventions.DEFAULT_SEPARATOR)),  # PROVISIONAL (FIXTURES.md §4.1)
            is_array=(rule.get("type") == "array"),
            is_grid=is_grid,
            children=children,
            transforms=transforms,
            is_id=bool(rule.get("id")),
            virtual=bool(rule.get("virtual")),
            lowered_specs=lowered_specs,
        )
        compiled.data_type = self._rule_type(compiled, raw_chain)
        compiled.udf_data_type = self._rule_type(compiled,
                                                 raw_chain[:n_python], udf=True)
        return compiled

    # -- static schema derivation (SURVEY.md §1.2) -------------------------------

    def _rule_type(self, rule: CompiledRule, chain: list[dict],
                   udf: bool = False) -> DataType:
        if rule.children:
            struct = StructType([
                StructField(c.name or "",
                            c.udf_data_type if udf else c.data_type, True)
                for c in rule.children if not c.virtual
            ])
            return ArrayType(struct) if rule.is_grid else struct
        # leaf: string or array-of-string, then walk the transform chain
        t: DataType = ArrayType(StringType()) if rule.is_array else StringType()
        for spec in chain:
            ttype = spec.get("type")
            if ttype in self.registry.ARRAY_PRODUCING:
                t = ArrayType(StringType())
            elif ttype in self.registry.SCALAR_PRODUCING:
                t = StringType()
            # all other transforms preserve the value's shape
        return t

    def _root_type(self, root: CompiledRule, udf: bool = False) -> DataType:
        """Type of the ``extracted`` column for one branch. A named
        simple rule at root yields ``{name: value}`` (FIXTURES.md F-01),
        so the root is always a struct or an array-of-struct (grid)."""
        dt = root.udf_data_type if udf else root.data_type
        if root.children:
            return dt
        if root.name is None:
            raise RuleError("root rule needs a 'name' or a 'collection'")
        return StructType([StructField(root.name, dt, True)])
