"""Token-based CREATE TABLE parsing (StarRocks.g4:1346
createTableStatement subset; fe .../sql/parser/AstBuilder.java
visitCreateTableStatement).

Promoted from the r1–r9 ordered-regex parser in ``sqltester`` per the
round-9 verdict: the column-def list and every tail clause (key desc,
ENGINE, COMMENT, PARTITION BY, DISTRIBUTED BY, ORDER BY, ROLLUP,
PROPERTIES) now parse from one token stream, each clause dispatched
by keyword in ANY order — no ordered-regex sensitivity. The
400+-case acceptance matrix pins behavior across the promotion.
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field

from starrocks_spark.tables.models import TableModel

from .sqllex import Tok, TokenStream, tokenize

_AGG_TYPES = {"SUM", "MIN", "MAX", "REPLACE", "REPLACE_IF_NOT_NULL",
              "HLL_UNION", "BITMAP_UNION"}

_MODEL_MAP = {
    "DUPLICATE": TableModel.DUP_KEYS,
    "AGGREGATE": TableModel.AGG_KEYS,
    "UNIQUE": TableModel.UNIQUE_KEYS,
    "PRIMARY": TableModel.PRIMARY_KEYS,
}


@dataclass
class ColumnDef:
    name: str
    sr_type: str                 # normalized lowercase StarRocks type
    agg: str | None = None       # AGG_KEYS value-column agg type
    default: str | None = None   # DEFAULT literal (SQL text)
    nullable: bool = True        # NOT NULL absent in the DDL
    # generated column: `name type AS <expr>` — computed from the
    # other columns of the same row at LOAD time (fe
    # GeneratedColumnUtil; StarRocks.g4 columnDesc generatedColumn)
    gen_expr: str | None = None
    auto_inc: bool = False       # AUTO_INCREMENT (fe auto-inc ids)
    null_explicit: bool = False  # a standalone NULL keyword in DDL


@dataclass
class TableDef:
    name: str
    cols: list[ColumnDef]
    model: TableModel = TableModel.DUP_KEYS
    key_cols: list[str] = field(default_factory=list)
    hash_cols: list[str] = field(default_factory=list)
    buckets: int | None = None
    bf_cols: list[str] = field(default_factory=list)  # bloom filters
    # physical names of renamed-away columns: the reference keeps the
    # original column name reserved in the storage schema, so ADD
    # COLUMN with a renamed-away name is rejected
    reserved: list[str] = field(default_factory=list)
    raw_props: dict = field(default_factory=dict)  # DDL PROPERTIES
    has_partition: bool = False     # PARTITION BY present in the DDL
    has_index: bool = False         # secondary INDEX defs present
    comment: str | None = None      # table COMMENT text
    sort_cols: list[str] = field(default_factory=list)  # ORDER BY
    # secondary index DDL: name -> {"col", "using", "props"}
    # (ALTER TABLE ADD INDEX ... USING VECTOR/GIN/BITMAP)
    indexes: dict = field(default_factory=dict)
    auto_seq: int = 0            # next AUTO_INCREMENT id - 1

    def col(self, name: str) -> ColumnDef:
        for c in self.cols:
            if c.name == name:
                return c
        raise KeyError(name)


def _norm_type(t: str) -> str:
    """Lowercase + collapse whitespace, spaces stripped around
    structural chars (struct<a int, b int> keeps the name/type
    space)."""
    return re.sub(r"\s*([<>,()])\s*", r"\1",
                  re.sub(r"\s+", " ", t.lower())).strip()


def _split_coldefs_toks(toks: list[Tok]) -> list[list[Tok]]:
    """Split a column-def token list on top-level commas, tracking
    () AND the <> of generic types (struct<a int, b int> is one
    def). A ``<`` opens a generic only after an array/map/struct
    type word, which cannot be confused with comparisons in DDL."""
    parts: list[list[Tok]] = []
    cur: list[Tok] = []
    depth = 0
    for t in toks:
        if t.kind == "punct":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
            elif (t.text == "<" and cur
                  and cur[-1].kind == "ident"
                  and cur[-1].up in ("ARRAY", "MAP", "STRUCT")):
                depth += 1
            elif t.text == "<" and depth > 0:
                # nested generic opener inside an outer generic
                # (map<int, array<int>> — inner array< matched above;
                # bare ``<`` inside a generic is a nested opener)
                depth += 1
            elif t.text == ">" and depth > 0:
                depth -= 1
            elif t.text == "," and depth == 0:
                parts.append(cur)
                cur = []
                continue
        cur.append(t)
    if cur:
        parts.append(cur)
    return parts


def _parse_index_def(entry: list[Tok], sql: str, d: TableDef) -> None:
    """INDEX name (col) [USING kind] [(props)] [COMMENT '..']."""
    es = TokenStream(sql, entry)
    es.next()                             # INDEX
    iname = es.ident()
    if iname is None or not es.is_punct("("):
        return
    inner, _ = es.balanced()
    icol = inner.strip().strip("`")
    using = "BITMAP"
    props: dict = {}
    if es.match_kws("USING"):
        using = (es.ident() or "BITMAP").upper()
    if es.is_punct("("):
        pbody, _ = es.balanced()
        props = dict(re.findall(
            r"['\"]([^'\"]+)['\"]\s*=\s*['\"]([^'\"]*)['\"]", pbody))
    d.indexes[iname] = {"col": icol, "using": using, "props": props}


def _parse_coldef(entry: list[Tok], sql: str) -> ColumnDef:
    """name type [agg] [NULL|NOT NULL] [DEFAULT lit]
    [AUTO_INCREMENT] [AS expr] [COMMENT '..']"""
    es = TokenStream(sql, entry)
    cname = es.ident()
    if cname is None:
        raise ValueError(f"unparsed column def: "
                         f"{sql[entry[0].start:entry[-1].end]!r}")
    # type: word + optional (args) + optional <generic>
    t0 = es.peek()
    if t0 is None or t0.kind != "ident":
        raise ValueError(f"unparsed column def: "
                         f"{sql[entry[0].start:entry[-1].end]!r}")
    es.next()
    type_end = t0.end
    if es.is_punct("("):
        _, type_end = es.balanced()
    if es.is_punct("<"):
        depth = 0
        while True:
            t = es.next()
            if t is None:
                raise ValueError("unbalanced generic in column def")
            if t.kind == "punct":
                if t.text == "<":
                    depth += 1
                elif t.text == ">":
                    depth -= 1
                    if depth == 0:
                        type_end = t.end
                        break
    ty = _norm_type(sql[t0.start:type_end])
    if ty == "string":
        # the FE normalizes STRING to VARCHAR(65533) at create time
        # (fe TypeDef; DESC/SHOW CREATE print the varchar form —
        # test_virtual_column_tablet_id)
        ty = "varchar(65533)"
    c = ColumnDef(cname, ty)
    entry_end = entry[-1].end
    first_mod = True
    while not es.at_end():
        t = es.peek()
        if t.kind == "ident":
            u = t.up
            if first_mod and u in _AGG_TYPES:
                c.agg = u
                es.next()
                first_mod = False
                continue
            first_mod = False
            if u == "NOT" and es.kw(1) == "NULL":
                c.nullable = False
                es.pos += 2
                continue
            if u == "NULL":
                c.null_explicit = True
                es.next()
                continue
            if u == "AUTO_INCREMENT":
                c.auto_inc = True
                es.next()
                continue
            if u == "DEFAULT":
                es.next()
                if es.is_punct("("):
                    # expression default (DEFAULT (now()) / (uuid())):
                    # keep the full balanced expression, not just '('.
                    inner, _ = es.balanced()
                    c.default = "(" + inner.strip() + ")"
                    continue
                neg = ""
                if es.is_punct("-"):
                    es.next()
                    neg = "-"
                v = es.next()
                if v is not None:
                    if v.kind == "string" and v.text.startswith('"'):
                        c.default = "'" + v.text[1:-1] + "'"
                    else:
                        c.default = neg + v.text
                continue
            if u == "AS":
                es.next()
                nxt = es.peek()
                gstart = nxt.start if nxt is not None else entry_end
                gexpr = sql[gstart:entry_end].strip()
                c.gen_expr = re.sub(r'\s*COMMENT\s+"[^"]*"\s*$', "",
                                    gexpr) or None
                break
            es.next()
            continue
        first_mod = False
        if t.kind == "punct" and t.text == "(":
            es.balanced()
            continue
        es.next()
    return c


# tail-clause heads that terminate an expression-partition capture
_PART_EXPR_STOPS = {"DISTRIBUTED", "PROPERTIES", "ORDER", "COMMENT"}


def parse_create_table(stmt: str) -> TableDef:
    """CREATE TABLE [IF NOT EXISTS] name (coldefs...) + tail clauses
    in any order."""
    ts = TokenStream(stmt)
    if not ts.match_kws("CREATE", "TABLE"):
        raise ValueError(f"not a CREATE TABLE: {stmt[:60]}")
    ts.match_kws("IF", "NOT", "EXISTS")
    name = ts.ident()
    if name is None or not ts.is_punct("("):
        raise ValueError(f"not a CREATE TABLE: {stmt[:60]}")
    body_toks_start = ts.pos + 1
    _, body_end = ts.balanced()
    body_toks = ts.toks[body_toks_start:ts.pos - 1]

    d = TableDef(name, [])
    d.range_col, d.named_parts = None, {}
    d.list_parts = {}
    d.part_expr = None
    entries = _split_coldefs_toks(body_toks)
    for entry in entries:
        if not entry:
            continue
        head = entry[0].up if entry[0].kind in ("ident", "qident") \
            else ""
        if head == "INDEX":
            d.has_index = True
            _parse_index_def(entry, stmt, d)
            continue
        if head in ("KEY", "CONSTRAINT"):
            continue
        d.cols.append(_parse_coldef(entry, stmt))

    # --- tail clauses, keyword-dispatched in any order -------------
    key_seen = False
    saw_distributed = False
    while not ts.at_end():
        t = ts.peek()
        if t.kind != "ident":
            ts.next()
            continue
        u = t.up
        if u in _MODEL_MAP and ts.kw(1) == "KEY":
            ts.pos += 2
            if ts.is_punct("("):
                inner, _ = ts.balanced()
                d.model = _MODEL_MAP[u]
                d.key_cols = [c.strip().strip("`")
                              for c in inner.split(",")]
                key_seen = True
            continue
        if u == "COMMENT":
            ts.next()
            v = ts.peek()
            if v is not None and v.kind == "string":
                d.comment = v.text[1:-1]
                ts.next()
            continue
        if u == "ORDER" and ts.kw(1) == "BY":
            ts.pos += 2
            if ts.is_punct("("):
                inner, _ = ts.balanced()
                seen_ob: set[str] = set()
                for cn in inner.split(","):
                    cn = cn.strip().strip("`")
                    if cn in seen_ob:
                        raise ValueError(f"Duplicate sort key column "
                                         f"{cn} is not allowed.")
                    seen_ob.add(cn)
                    d.sort_cols.append(cn)
            continue
        if u == "PARTITION" and ts.kw(1) == "BY":
            ts.pos += 2
            d.has_partition = True
            _parse_partition_by(ts, d)
            continue
        if u == "DISTRIBUTED" and ts.kw(1) == "BY":
            ts.pos += 2
            saw_distributed = True
            kind = ts.kw()
            if kind == "HASH":
                ts.next()
                if ts.is_punct("("):
                    inner, _ = ts.balanced()
                    d.hash_cols = [c.strip().strip("`")
                                   for c in inner.split(",")]
            elif kind == "RANDOM":
                ts.next()
                d.random_explicit = True
            if ts.match_kws("BUCKETS"):
                b = ts.next()
                if b is not None and b.kind == "number":
                    d.buckets = int(b.text)
            continue
        if u == "PROPERTIES":
            ts.next()
            if ts.is_punct("("):
                pbody, _ = ts.balanced()
                d.raw_props = dict(re.findall(
                    r'"([^"]+)"\s*=\s*"([^"]*)"', pbody))
            continue
        if u == "ENGINE":
            ts.next()
            if ts.is_punct("="):
                ts.next()
            ts.ident()
            continue
        if u == "ROLLUP":
            ts.next()
            ts.skip_balanced_if_open()
            continue
        ts.next()

    # AUTO_INCREMENT analysis (fe CreateTableAnalyzer /
    # AutoIncrementInfo): exactly one BIGINT NOT-NULL column, no
    # declared default
    autos = [c for c in d.cols if c.auto_inc]
    if len(autos) > 1:
        raise ValueError("More than one AUTO_INCREMENT column "
                         "defined in CREATE TABLE Statement")
    for c in autos:
        if c.null_explicit:
            raise ValueError(f"Getting analyzing error. Detail "
                             f"message: AUTO_INCREMENT column: "
                             f"{c.name} must be NOT NULL.")
        if c.default is not None:
            raise ValueError(f"Getting analyzing error. Detail "
                             f"message: AUTO_INCREMENT column: "
                             f"{c.name} can not have a default "
                             f"value.")
        if not c.sr_type.startswith("bigint"):
            raise ValueError(f"Getting analyzing error. Detail "
                             f"message: AUTO_INCREMENT column: "
                             f"{c.name} must be BIGINT.")
    if not key_seen:
        if not d.cols:
            raise ValueError(f"CREATE TABLE {name}: no columns")
        d.key_cols = [d.cols[0].name]  # reference default: prefix key
    if d.model is TableModel.PRIMARY_KEYS:
        # PK columns are implicitly NOT NULL (CreateTableAnalyzer)
        for c in d.cols:
            if c.name in d.key_cols:
                c.nullable = False
    bf = d.raw_props.get("bloom_filter_columns")
    if bf:
        d.bf_cols = [c.strip().strip("`")
                     for c in bf.split(",") if c.strip()]
    # no DISTRIBUTED clause → the FE defaults DUP tables to RANDOM
    # (CreateTableAnalyzer defaultDistributionInfo); non-dup models
    # default to hash on the key — and reject EXPLICIT random
    d.random_explicit = getattr(d, "random_explicit", False)
    d.random_dist = d.random_explicit or (
        d.model is TableModel.DUP_KEYS and not saw_distributed)
    return d


def _parse_partition_by(ts: TokenStream, d: TableDef) -> None:
    """RANGE(col) (named range parts) | LIST(col) (named list parts)
    | <expression> — cursor sits just past PARTITION BY."""
    kind = ts.kw()
    if kind == "RANGE" and ts.is_punct("(", 1):
        ts.next()
        inner, _ = ts.balanced()
        d.range_col = inner.strip().strip("`")
        # the named-parts list can contain the half-open
        # ``VALUES [("lo"), ("hi"))`` form whose parens do NOT
        # balance — scan the remaining text with findall (the
        # PARTITION..VALUES shape is unambiguous) and let the caller
        # skip the tokens
        t0 = ts.peek()
        if t0 is not None:
            _parse_named_range_parts(ts.sql[t0.start:], d)
        return
    if kind == "LIST" and ts.is_punct("(", 1):
        ts.next()
        inner, _ = ts.balanced()
        d.range_col = inner.strip().strip("`")
        t0 = ts.peek()
        if t0 is not None:
            for pn8, vals8 in re.findall(
                    r"PARTITION\s+`?(\w+)`?\s+VALUES\s+IN\s*"
                    r"\(([^)]*)\)", ts.sql[t0.start:], re.IGNORECASE):
                d.list_parts[pn8] = [v.strip().strip("'\"")
                                     for v in vals8.split(",")]
        return
    # expression partitioning: capture until the next top-level tail
    # clause keyword (any order) or end of statement
    start_tok = ts.peek()
    if start_tok is None:
        return
    pe_start = start_tok.start
    pe_end = pe_start
    while not ts.at_end():
        t = ts.peek()
        if t.kind == "ident" and t.up in _PART_EXPR_STOPS:
            break
        if t.kind == "punct" and t.text == "(":
            _, pe_end = ts.balanced()
            continue
        ts.next()
        pe_end = t.end
    pe9 = ts.sql[pe_start:pe_end].strip()
    if pe9.startswith("(") and pe9.endswith(")"):
        depth = 0
        outer = True
        for i, ch in enumerate(pe9):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(pe9) - 1:
                    outer = False
                    break
        if outer:
            pe9 = pe9[1:-1].strip()
    d.part_expr = pe9.strip("`") or None


def _parse_named_range_parts(pbody: str, d: TableDef) -> None:
    """PARTITION name VALUES LESS THAN ("hi"|MAXVALUE) and
    PARTITION name VALUES [("lo"), ("hi")) forms; NULL keys live in
    the FIRST partition (fe RangePartitionInfo)."""
    pairs8 = re.findall(
        r"PARTITION\s+`?(\w+)`?\s+VALUES\s+LESS\s+THAN\s*"
        r"\(\s*(?:(MAXVALUE)|[\"']([^\"']*)[\"'])\s*\)",
        pbody, re.IGNORECASE)
    prev8 = None
    for i8, (pn8, mx8, up8) in enumerate(pairs8):
        d.named_parts[pn8] = (prev8, None if mx8 else up8, i8 == 0)
        prev8 = None if mx8 else up8
    for i8, (pn8, lo8, hx8, hi8) in enumerate(re.findall(
            r"PARTITION\s+`?(\w+)`?\s+VALUES\s+\[\s*\(\s*"
            r"[\"']([^\"']*)[\"']\s*\)\s*,\s*\(\s*"
            r"(?:(MAXVALUE)|[\"']([^\"']*)[\"'])\s*\)\s*\)", pbody,
            re.IGNORECASE)):
        d.named_parts[pn8] = (lo8, None if hx8 else hi8, i8 == 0)


# ---------------------------------------------------------------------------
# ALTER TABLE (r11 tokenizer promotion, phase 2)
# ---------------------------------------------------------------------------
# Reference parity: fe .../sql/parser/AstBuilder.java alterTableStatement
# clause alternatives (StarRocks.g4 alterClause); the add/drop-field
# analyzer rules mirror fe AlterTableClauseAnalyzer.

@dataclass
class AlterAction:
    kind: str
    a: dict = field(default_factory=dict)


def _string_or_ident(ts: TokenStream) -> str | None:
    t = ts.peek()
    if t is not None and t.kind in ("ident", "qident", "string",
                                    "number"):
        ts.pos += 1
        return t.bare if t.kind != "number" else t.text
    return None


def _parse_field_path(ts: TokenStream) -> list[str]:
    """Dotted field path for ADD/DROP FIELD; ``[*]`` names the
    element struct of an array-of-struct component."""
    path: list[str] = []
    while True:
        if ts.is_punct("["):
            ts.next()
            if ts.is_punct("*"):
                ts.next()
            if ts.is_punct("]"):
                ts.next()
            path.append("[*]")
        else:
            p = _string_or_ident(ts)
            if p is None:
                break
            path.append(p)
        if ts.is_punct("."):
            ts.next()
            continue
        break
    return path


def _collect_type(ts: TokenStream) -> str | None:
    """word + optional (args) + optional <generic> as raw text."""
    t0 = ts.peek()
    if t0 is None or t0.kind != "ident":
        return None
    ts.next()
    end = t0.end
    if ts.is_punct("("):
        _, end = ts.balanced()
    if ts.is_punct("<"):
        depth = 0
        while True:
            t = ts.next()
            if t is None:
                break
            if t.kind == "punct" and t.text == "<":
                depth += 1
            elif t.kind == "punct" and t.text == ">":
                depth -= 1
                if depth == 0:
                    end = t.end
                    break
    return _norm_type(ts.sql[t0.start:end])


def _parse_distribution(ts: TokenStream) -> dict:
    """At DISTRIBUTED: BY HASH(cols) [BUCKETS n] | BY RANDOM
    [BUCKETS n]."""
    ts.match_kws("DISTRIBUTED")
    ts.match_kws("BY")
    out: dict = {"hash_cols": None, "random": False, "buckets": None}
    if ts.match_kws("HASH"):
        if ts.is_punct("("):
            inner, _ = ts.balanced()
            out["hash_cols"] = [c.strip().strip("`")
                                for c in inner.split(",")
                                if c.strip()]
    elif ts.match_kws("RANDOM"):
        out["random"] = True
    if ts.match_kws("BUCKETS"):
        b = ts.next()
        if b is not None and b.kind == "number":
            out["buckets"] = int(b.text)
    return out


def _quoted_scalar(inner: str) -> str:
    return inner.strip().strip("\"'")


def parse_alter_table(stmt: str) -> tuple[str, str, list[AlterAction]]:
    """ALTER TABLE name <clause> — returns (table, action_text,
    actions). Raises ValueError('alter: unsupported action ...') for
    clause shapes the runner does not model, preserving the regex
    parser's honest-skip contract."""
    ts = TokenStream(stmt)
    if not ts.match_kws("ALTER", "TABLE"):
        raise ValueError(f"alter: not an ALTER TABLE: {stmt[:60]}")
    name = ts.ident()
    if name is None:
        raise ValueError(f"alter: unknown table in {stmt[:60]}")
    t0 = ts.peek()
    action_text = stmt[t0.start:].strip().rstrip(";").strip() \
        if t0 is not None else ""
    acts: list[AlterAction] = []

    def unsupported() -> None:
        raise ValueError(f"alter: unsupported action "
                         f"{action_text[:80]}")

    kw = ts.kw()
    if kw == "DROP" and ts.kw(1) == "PARTITIONS":
        ts.pos += 2
        ts.match_kws("IF", "EXISTS")
        vals = []
        for lead in ("START", "END"):
            if not ts.match_kws(lead) or not ts.is_punct("("):
                unsupported()
            inner, _ = ts.balanced()
            vals.append(_quoted_scalar(inner))
        if ts.match_kws("EVERY") and ts.is_punct("("):
            ts.balanced()
        force = ts.match_kws("FORCE")
        if not ts.at_end():
            unsupported()
        acts.append(AlterAction("drop_partitions",
                                {"start": vals[0], "end": vals[1],
                                 "force": force}))
    elif kw == "DROP" and ts.kw(1) == "PARTITION":
        ts.pos += 2
        ts.match_kws("IF", "EXISTS")
        pn = ts.ident()
        force = ts.match_kws("FORCE")
        if pn is None or not ts.at_end():
            unsupported()
        acts.append(AlterAction("drop_partition",
                                {"name": pn, "force": force}))
    elif kw == "ADD" and ts.kw(1) == "PARTITION":
        ts.pos += 2
        ts.match_kws("IF", "NOT", "EXISTS")
        pn = ts.ident()
        if pn is None or not ts.match_kws("VALUES"):
            unsupported()
        if ts.match_kws("LESS", "THAN") and ts.is_punct("("):
            inner, _ = ts.balanced()
            dist = None
            if ts.try_kws("DISTRIBUTED", "BY"):
                # partition-local distribution: parsed so the applier
                # can enforce type consistency with the table
                dist = _parse_distribution(ts)
            acts.append(AlterAction(
                "add_partition_lt",
                {"name": pn, "hi": _quoted_scalar(inner),
                 "dist": dist}))
        elif ts.is_punct("["):
            ts.next()
            bounds = []
            for _i in range(2):
                if not ts.is_punct("("):
                    unsupported()
                inner, _ = ts.balanced()
                b = inner.strip()
                bounds.append(None if b.upper() == "MAXVALUE"
                              else _quoted_scalar(b))
                if ts.is_punct(","):
                    ts.next()
            if ts.is_punct(")"):
                ts.next()
            acts.append(AlterAction(
                "add_partition_range",
                {"name": pn, "lo": bounds[0], "hi": bounds[1]}))
        else:
            unsupported()
    elif kw == "ADD" and ts.kw(1) == "ROLLUP":
        ts.pos += 2
        rn = ts.ident()
        if rn is None or not ts.is_punct("("):
            unsupported()
        inner, _ = ts.balanced()
        cols = [c.strip().strip("`") for c in inner.split(",")
                if c.strip()]
        if ts.match_kws("FROM"):
            ts.ident()
        if not ts.at_end():
            unsupported()
        acts.append(AlterAction("add_rollup",
                                {"name": rn, "cols": cols}))
    elif kw == "RENAME" and ts.kw(1) == "COLUMN":
        ts.pos += 2
        old = ts.ident()
        ts.match_kws("TO")
        new = ts.ident()
        if old is None or new is None or not ts.at_end():
            unsupported()
        acts.append(AlterAction("rename_column",
                                {"old": old, "new": new}))
    elif kw == "ADD" and ts.kw(1) == "COLUMN":
        body = action_text
        if body.lstrip()[:1] != "(":
            bm = re.match(r"ADD\s+COLUMN\s*", body, re.IGNORECASE)
            body = body[bm.end():]
            if body.startswith("("):
                body, _j = _strip_parens_src(body, 0)
        else:
            body, _j = _strip_parens_src(body, body.index("("))
        entries = _split_coldefs_toks(tokenize(body))
        coldefs = []
        for entry in entries:
            if not entry:
                continue
            # one ALTER may chain several ADD COLUMN clauses
            if (entry[0].up == "ADD" and len(entry) > 2
                    and entry[1].up == "COLUMN"):
                entry = entry[2:]
            coldefs.append(_parse_coldef(entry, body))
        acts.append(AlterAction("add_columns", {"cols": coldefs}))
    elif kw == "ADD" and ts.kw(1) == "INDEX":
        ts.pos += 1                       # at INDEX
        d9 = TableDef("_", [])
        start9 = ts.pos
        _parse_index_def(ts.toks[start9:], stmt, d9)
        if not d9.indexes:
            unsupported()
        iname, idef = next(iter(d9.indexes.items()))
        acts.append(AlterAction("add_index",
                                {"name": iname, **idef}))
    elif kw == "DROP" and ts.kw(1) == "INDEX":
        ts.pos += 2
        iname = ts.ident()
        if iname is None or not ts.at_end():
            unsupported()
        acts.append(AlterAction("drop_index", {"name": iname}))
    elif kw == "MODIFY" and ts.kw(1) == "COLUMN":
        ts.pos += 2
        cn = ts.ident()
        if cn is None:
            unsupported()
        if ts.try_kws("ADD", "FIELD") or ts.try_kws("DROP", "FIELD"):
            adding = ts.kw() == "ADD"
            ts.pos += 2
            path = _parse_field_path(ts)
            ftype = None
            if adding:
                ftype = _collect_type(ts)
                if ftype is None or not path:
                    unsupported()
            after = None
            if ts.match_kws("AFTER"):
                after = ts.ident()
            if not ts.at_end() or not path:
                unsupported()
            acts.append(AlterAction(
                "add_field" if adding else "drop_field",
                {"col": cn, "path": path, "ftype": ftype,
                 "after": after}))
        else:
            ctype = _collect_type(ts)
            if ctype is None:
                unsupported()
            ts.match_kws("KEY")
            nullable = None
            if ts.match_kws("NOT", "NULL"):
                nullable = False
            elif ts.match_kws("NULL"):
                nullable = True
            if not ts.at_end():
                unsupported()
            acts.append(AlterAction(
                "modify_column",
                {"col": cn, "type": ctype, "nullable": nullable}))
    elif kw == "DROP" and ts.kw(1) == "COLUMN":
        ts.pos += 2
        cn = ts.ident()
        if cn is None or not ts.at_end():
            unsupported()
        acts.append(AlterAction("drop_column", {"col": cn}))
    elif kw == "ORDER" and ts.kw(1) == "BY":
        ts.pos += 2
        if not ts.is_punct("("):
            unsupported()
        inner, _ = ts.balanced()
        acts.append(AlterAction(
            "order_by",
            {"cols": [c.strip().strip("`") for c in inner.split(",")
                      if c.strip()]}))
    elif kw == "AUTO_INCREMENT":
        ts.next()
        if not ts.match_punct("="):
            unsupported()
        n = ts.next()
        if n is None or n.kind != "number" or not ts.at_end():
            unsupported()
        acts.append(AlterAction("auto_increment", {"n": int(n.text)}))
    elif kw == "RENAME":
        ts.next()
        ts.match_kws("TO")
        new = ts.ident()
        if new is None or not ts.at_end():
            unsupported()
        acts.append(AlterAction("rename_table", {"new": new}))
    elif kw == "SWAP" and ts.kw(1) == "WITH":
        ts.pos += 2
        other = ts.ident()
        if other is None or not ts.at_end():
            unsupported()
        acts.append(AlterAction("swap_with", {"other": other}))
    elif kw == "PARTITION" and ts.kw(1) == "BY":
        # partition evolution (fe OptimizeClause partition-by merge;
        # test_merge_partitions): ALTER TABLE t PARTITION BY expr
        # [BETWEEN 'lo' AND 'hi']
        ts.pos += 2
        t1 = ts.peek()
        if t1 is None:
            unsupported()
        depth = 0
        end = t1.start
        while not ts.at_end():
            t = ts.peek()
            if t.kind == "ident" and depth == 0 \
                    and t.up in ("BETWEEN", "DISTRIBUTED"):
                break
            if t.kind == "punct":
                if t.text == "(":
                    depth += 1
                elif t.text == ")":
                    depth -= 1
            end = t.end
            ts.next()
        pexpr = stmt[t1.start:end].strip()
        dist = None
        if ts.try_kws("DISTRIBUTED", "BY"):
            dist = _parse_distribution(ts)
        lo = hi = None
        if ts.match_kws("BETWEEN"):
            lo_t = ts.next()
            if not ts.match_kws("AND"):
                unsupported()
            hi_t = ts.next()
            if (lo_t is None or hi_t is None
                    or lo_t.kind != "string" or hi_t.kind != "string"):
                unsupported()
            lo, hi = lo_t.bare, hi_t.bare
        if not ts.at_end():
            unsupported()
        acts.append(AlterAction("repartition",
                                {"expr": pexpr, "lo": lo, "hi": hi,
                                 "dist": dist}))
    elif kw == "DISTRIBUTED" and ts.kw(1) == "BY":
        # OPTIMIZE TABLE surface: full-table re-distribution
        # (fe OptimizeClause; test_optimize_table)
        acts.append(AlterAction("distribution",
                                {**_parse_distribution(ts),
                                 "partitions": None}))
        if not ts.at_end():
            unsupported()
    elif kw == "PARTITIONS":
        ts.next()
        if not ts.is_punct("("):
            unsupported()
        inner, _ = ts.balanced()
        parts = [p.strip().strip("`") for p in inner.split(",")
                 if p.strip()]
        if not ts.try_kws("DISTRIBUTED", "BY"):
            unsupported()
        acts.append(AlterAction("distribution",
                                {**_parse_distribution(ts),
                                 "partitions": parts}))
        if not ts.at_end():
            unsupported()
    else:
        unsupported()
    return name, action_text, acts


def _strip_parens_src(text: str, start: int) -> tuple[str, int]:
    """text[start] == '(' → (inner, index-after-close), quote-aware."""
    depth, i = 0, start
    while i < len(text):
        ch = text[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < len(text):
                if text[j] == "\\":
                    j += 2
                    continue
                if text[j] == ch:
                    break
                j += 1
            i = j
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return text[start + 1:i], i + 1
        i += 1
    raise ValueError("unbalanced parens in DDL")


# ---------------------------------------------------------------------------
# struct type trees for ADD/DROP FIELD (fe AlterTableClauseAnalyzer)
# ---------------------------------------------------------------------------

def _parse_type_tree(s: str):
    """StarRocks type string → mutable tree:
    ('scalar', text) | ('struct', [[name, node], ...]) |
    ('array', node) | ('map', knode, vnode)."""
    s = s.strip()
    low = s.lower()
    if low.startswith("array<") and s.endswith(">"):
        return ["array", _parse_type_tree(s[6:-1])]
    if low.startswith("map<") and s.endswith(">"):
        k, v = _split_angle_args(s[4:-1])
        return ["map", _parse_type_tree(k), _parse_type_tree(v)]
    if low.startswith("struct<") and s.endswith(">"):
        fields = []
        for item in _split_angle_list(s[7:-1]):
            item = item.strip()
            nm, _, ty = item.partition(" ")
            fields.append([nm.strip("`"), _parse_type_tree(ty)])
        return ["struct", fields]
    return ["scalar", _norm_type(s)]


def _split_angle_list(body: str) -> list[str]:
    parts, cur, depth = [], [], 0
    for ch in body:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def _split_angle_args(body: str) -> tuple[str, str]:
    parts = _split_angle_list(body)
    return parts[0], ",".join(parts[1:])


def _render_type_tree(node) -> str:
    if node[0] == "scalar":
        return node[1]
    if node[0] == "array":
        return f"array<{_render_type_tree(node[1])}>"
    if node[0] == "map":
        return (f"map<{_render_type_tree(node[1])},"
                f"{_render_type_tree(node[2])}>")
    inner = ",".join(f"{nm} {_render_type_tree(ty)}"
                     for nm, ty in node[1])
    return f"struct<{inner}>"


def _retype_expr(col: str, old, new, spark_type=None) -> str:
    """Spark SQL expression mapping a value of tree ``old`` onto tree
    ``new``: fields present in both carry over by name, new fields
    read NULL, dropped fields vanish, arrays rebuild element-wise via
    ``transform``. NULL containers stay NULL (the outer CASE)."""
    if new[0] == "scalar" or old[0] == "scalar":
        return col
    if new[0] == "array":
        inner = _retype_expr("__x", old[1], new[1])
        if inner == "__x":
            return col
        return f"transform({col}, __x -> {inner})"
    if new[0] == "map":
        return col
    # struct: rebuild field list by name
    old_fields = {nm: ty for nm, ty in old[1]} \
        if old[0] == "struct" else {}
    items = []
    for nm, ty in new[1]:
        if nm in old_fields:
            items.append(
                f"'{nm}', "
                + _retype_expr(f"({col}).`{nm}`", old_fields[nm], ty))
        else:
            items.append(f"'{nm}', NULL")
    ns = "named_struct(" + ", ".join(items) + ")"
    return f"CASE WHEN {col} IS NULL THEN NULL ELSE {ns} END"
