"""Logical-source resolution: mapping logical sources → DataFrames.

The canonical input is an Iceberg-style table of source-code repositories
``(repo, path, commit, lang, content)`` where ``content`` plays the role
of the MongoDB JSON document (BASELINE.json input_hint).  A mapping's
``xrr:query "db.<collection>.find({...})"`` resolves to a filtered view of
that table; the find() filter compiles to one SQL predicate over
``get_json_object`` so Catalyst keeps the scan pruned and pushes the
partition filters down (the reference ships the filter to MongoDB —
MorphMongoDataSourceReader.scala:52-70; our equivalent is a pushed-down
DataFrame ``where``).
"""

from __future__ import annotations

import json
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .model import LogicalSource, parse_mongo_query
from .mongo_filter import normalize_filter_text
from .native import (CMP_OPS, and_sql, check_sql_text_conf, double_sql,
                     encode_literal_sql, nt_escape_sql, or_sql, sql_ident,
                     sql_lit, strip_ws_sql)


def mongo_filter_sql(filter_text: str, content_col: str) -> Optional[str]:
    """Compile a find() filter to a SQL predicate over the JSON text
    column, or None if the filter uses operators or operands only the
    Python fallback evaluates.  Compiled: {},
    {field: value}, {field: {$exists/$eq/$ne/$gt/$gte/$lt/$lte/$in: v}}
    (equality on strings no other JSON value reads as:
    _string_eq_lit), {$and/$or: [...]}, dotted paths and the internal
    pushdown operators $lexIn, $renderIn, $renderPat, $numCmp."""
    try:
        spec = json.loads(normalize_filter_text(filter_text))
    except ValueError:
        return None
    return _spec_sql(spec, sql_ident(content_col)) \
        if isinstance(spec, dict) else None


def mongo_filter_to_column(filter_text: str, content_col: str):
    """mongo_filter_sql as a Column predicate (None = Python fallback).
    Refuses a session whose parser would read the SQL text's string
    literals differently (check_sql_text_conf)."""
    sql = mongo_filter_sql(filter_text, content_col)
    if sql is None:
        return None
    check_sql_text_conf(SparkSession.active())
    return F.expr(sql)


def python_filter(ls: LogicalSource) -> Optional[str]:
    """The find() filter text of ``ls`` when it does not compile to SQL
    (only the Python document tier applies it), else None.  Session-free,
    so routing (native_json.compilable) uses it."""
    if not ls.is_find():
        return None
    _coll, filter_text = parse_mongo_query(ls.value)
    if mongo_filter_sql(filter_text, "content") is None:
        return filter_text
    return None


def _spec_sql(spec: dict, content: str) -> Optional[str]:
    conds: list[str] = []
    for key, val in spec.items():
        if key in ("$and", "$or"):
            if not isinstance(val, list) or (key == "$or" and not val):
                return None
            parts = [_spec_sql(sub, content) if isinstance(sub, dict)
                     else None for sub in val]
            if any(p is None for p in parts):
                return None
            if key == "$and":
                conds.extend(parts)
            else:
                conds.append(or_sql(parts))
        elif key.startswith("$"):
            return None
        else:
            x = f"get_json_object({content}, {sql_lit('$.' + key)})"
            if not isinstance(val, dict):
                lit = _string_eq_lit(val)
                if lit is None:
                    return None
                conds.append(f"({x} = {lit})")
                continue
            num = f"try_cast({x} AS DOUBLE)"
            # the internal operators mirror the engine's numeric_value
            # of the RENDERED literal, which is trimmed first: an
            # NBSP-padded "7" renders "7" (Spark's cast trims ASCII
            # whitespace only)
            rnum = f"try_cast({strip_ws_sql(x)} AS DOUBLE)"
            for op, operand in val.items():
                if op == "$exists":
                    conds.append(f"({x} IS NOT NULL)" if operand
                                 else f"({x} IS NULL)")
                elif op in ("$eq", "$ne"):
                    lit = _string_eq_lit(operand)
                    if lit is None:
                        return None
                    # $ne keeps documents where the field is MISSING
                    # (extracted NULL): a bare != would evaluate to NULL
                    # there and wrongly drop them
                    conds.append(f"({x} = {lit})" if op == "$eq"
                                 else f"(({x} IS NULL) OR ({x} != {lit}))")
                elif op in _CMP_SQL and _is_number(operand):
                    rhs = double_sql(operand) if isinstance(operand, float) \
                        else str(operand)
                    conds.append(f"({num} {_CMP_SQL[op]} {rhs})")
                elif op == "$in" and isinstance(operand, list):
                    lits = [_string_eq_lit(v) for v in operand]
                    if None in lits:
                        return None
                    conds.append(_in_sql(x, lits))
                elif op == "$lexIn" and isinstance(operand, list):
                    # INTERNAL pushdown operator (rewrite.py): matches
                    # when the field's JSON lexical form is in the list
                    # — deliberately type-blind (number 7 and string "7"
                    # both have lexical '7'), which makes it natively
                    # compilable where Mongo's type-sensitive numeric
                    # equality is not
                    conds.append(_in_sql(x, [sql_lit(str(v))
                                             for v in operand]))
                elif op == "$renderIn" and isinstance(operand, list):
                    # INTERNAL (rewrite.py object-literal pushdown): the
                    # doc-tier LITERAL RENDER of the field (trim +
                    # encode_literal of the lexical) is in the list, OR —
                    # for numeric members — the value compares
                    # numerically equal (a raw "7.50" renders "7.5"; the
                    # numeric arm keeps it)
                    rendered = encode_literal_sql(strip_ws_sql(x))
                    c = _in_sql(rendered, [sql_lit(str(v)) for v in operand])
                    nums = [double_sql(float(v)) for v in operand
                            if _is_number(v) or _looks_numeric(str(v))]
                    if nums:
                        c = f"({c} OR {_in_sql(rnum, nums)})"
                    conds.append(c)
                elif op == "$renderPat" and isinstance(operand, list) \
                        and len(operand) == 2 and operand[0] in _PAT_SQL:
                    # INTERNAL (rewrite.py STRSTARTS/STRENDS/CONTAINS
                    # pushdown): pattern predicate over the doc-tier
                    # LITERAL RENDER of the field.  The engine compares
                    # the ESCAPED lexical (sparql.py lexical_value
                    # extracts without unescaping), so the mirror
                    # nt-escapes like the render does.  Numeric values
                    # render their CANONICAL lexical ('1e3' → '1000.0'),
                    # which the raw text misses — the cast arm keeps
                    # those (superset, sound).
                    fn, pat = _PAT_SQL[operand[0]], sql_lit(str(operand[1]))
                    rendered = nt_escape_sql(
                        encode_literal_sql(strip_ws_sql(x)))
                    conds.append(
                        f"({fn}({rendered}, {pat}) OR (({rnum} IS NOT NULL)"
                        f" AND {fn}(CAST({rnum} AS STRING), {pat})))")
                elif op == "$numCmp" and isinstance(operand, dict):
                    # INTERNAL (rewrite.py comparison FILTERs): numeric
                    # value predicates; non-numeric lexicals try_cast to
                    # NULL and never match (the engine's numeric_value
                    # semantics)
                    for o, v in operand.items():
                        if o not in CMP_OPS or not _is_number(v):
                            return None
                        conds.append(f"({rnum} {o} {double_sql(float(v))})")
                else:
                    return None
    return and_sql(conds)


_CMP_SQL = {"$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}
_PAT_SQL = {"strstarts": "startswith", "strends": "endswith",
            "contains": "contains"}


def _in_sql(x: str, items: list) -> str:
    # Spark SQL has no empty IN list; an empty Mongo $in matches nothing
    return f"({x} IN ({', '.join(items)}))" if items else "false"


def _is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _looks_numeric(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def _string_eq_lit(v) -> Optional[str]:
    """SQL literal for a find() equality operand, or None when comparing
    get_json_object text would not be Mongo's typed equality: only a
    string whose text no number, boolean, null, object or array shares
    compiles (number 7 and string "7" both read '7'; numeric equality
    is also cross-representation, {a:3} matching 3.0)."""
    if not isinstance(v, str) or v in ("true", "false", "null") \
            or v[:1] in ("{", "[") or _looks_numeric(v):
        return None
    return sql_lit(v)


class SourceCatalog:
    """Maps logical-source names (Mongo collection names / table names) to
    DataFrames exposing a single JSON ``content`` column plus a stable
    ``_seq`` ordering column.

    ``_seq`` is assigned once per registration with
    ``monotonically_increasing_id`` — stable within a run (values are
    computed from deterministic input splits before any shuffle) and used
    only for deterministic RDF-list member ordering.

    CAVEAT (at-scale determinism): ``_seq`` encodes the partition layout,
    so RDF-list member order — and the content-derived bnode ids that
    hash over it — is only reproducible across runs while the input
    splits are identical (same files, same maxPartitionBytes).  This
    mirrors the reference, whose member order is MongoDB cursor order
    (also storage-layout-dependent).  Pipelines that need cross-run
    byte-stable list order should pre-sort the source on a key column
    and register that sorted frame."""

    def __init__(self):
        self._collections: dict[str, DataFrame] = {}
        self._tables: dict[str, DataFrame] = {}
        self._inputs: dict[str, DataFrame] = {}  # name -> input frame
        self._spark = None
        # the json-native compiler's sampled schemas and unsafe-path
        # verdicts, by (source, needed paths, sample size); every
        # registration clears it, so new data is never served a stale
        # sample.  Kept here, not in engine.session_state: it describes
        # this catalog's registered data and holds no Spark storage
        self.schema_samples: dict = {}

    # -- registration ----------------------------------------------------
    def register_collection(self, name: str, df: DataFrame,
                            content_col: str = "content") -> "SourceCatalog":
        """Register a document collection: df must have a JSON-text column."""
        if self._inputs.get(f"c:{name}:{content_col}") is df:
            return self          # same frame re-registered: keep the cache
        out = df.select(F.col(content_col).alias("content"))
        out = out.withColumn("_seq", F.monotonically_increasing_id())
        self._collections[name] = out
        self._inputs[f"c:{name}:{content_col}"] = df
        self.schema_samples.clear()
        return self

    def register_table(self, name: str, df: DataFrame) -> "SourceCatalog":
        """Register a tabular source (for rr:tableName / rr:sqlQuery
        logical sources): typed columns, translated to a row-dict document
        per row.  Also exposed as a temp view so rr:sqlQuery text can run
        against it."""
        if self._inputs.get(f"t:{name}") is df:
            return self          # same frame re-registered: keep the cache
        self._tables[name] = df
        self._spark = df.sparkSession
        df.createOrReplaceTempView(name)
        self._inputs[f"t:{name}"] = df
        self.schema_samples.clear()
        return self

    def register_repo_table(self, df: DataFrame,
                            collection_of: Optional[Callable[[str], object]] = None,
                            collections: Optional[list[str]] = None) -> "SourceCatalog":
        """Register the canonical (repo, path, commit, lang, content) table.
        Each collection name maps to the rows whose ``path`` starts with
        '<name>/' (overridable via ``collection_of`` returning a Column
        predicate for a name)."""
        names = collections or [r[0] for r in
                                df.select(F.split_part(F.col("path"), F.lit("/"), F.lit(1)))
                                  .distinct().collect()]
        for name in names:
            pred = (collection_of(name) if collection_of
                    else F.col("path").startswith(name + "/"))
            self.register_collection(name, df.where(pred))
        return self

    # -- resolution --------------------------------------------------------
    def resolve(self, ls: LogicalSource) -> tuple[DataFrame, Optional[str]]:
        """LogicalSource → (docs DataFrame(content, _seq), python_filter):
        a find() filter that compiles is applied here; one that does not
        comes back as its text (None otherwise), for the Python document
        tier's translation stage to apply."""
        if ls.is_find():
            coll, filter_text = parse_mongo_query(ls.value)
            if coll not in self._collections:
                raise KeyError(f"Collection {coll!r} not registered; have "
                               f"{sorted(self._collections)}")
            df = self._collections[coll]
            cond = mongo_filter_to_column(filter_text, "content")
            if cond is not None:
                return df.where(cond), None
            return df, filter_text
        # tabular source: rr:tableName or rr:sqlQuery
        name = ls.value
        if ls.kind == "sql":
            if self._spark is None:
                raise KeyError("rr:sqlQuery source needs register_table first")
            # arbitrary SQL over the registered temp views — the DB executed
            # this in the reference (MorphRDBUnfolder); Catalyst does here
            tdf = self._spark.sql(name)
        elif name in self._tables:
            tdf = self._tables[name]
        elif name in self._collections:
            return self._collections[name], None
        else:
            raise KeyError(f"Table {name!r} not registered")
        # represent each row as a JSON doc so column references resolve
        # uniformly in the translation core (row dict = document)
        doc = F.to_json(F.struct(*[F.col(c) for c in tdf.columns]))
        out = tdf.select(doc.alias("content")) \
                 .withColumn("_seq", F.monotonically_increasing_id())
        return out, None
