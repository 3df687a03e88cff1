"""File-level pruning from manifest column bounds (scan planning).

The reference gets file pruning for free from Iceberg scan planning:
a pinned snapshot scan yields FileScanTasks whose data files already
carry per-column bounds (``crates/planner/src/file_selection.rs:29``),
decoded for bool/int/long/float/double/string/binary at
``crates/worker/src/datafusion/mod.rs:400-435``. Our manifests store
the same bounds (``sources/manifest.py::_footer_stats``); this module
evaluates a scan predicate against them so a ``ts``-range or key
lookup touches the 1% of files that can match instead of 100% — the
difference between a metadata-sized plan and a full-table scan at
100 TB.

Design rules:
  * **Conservative always.** Pruning may only drop a file when the
    bounds *prove* no row can match. Anything unparseable, any unknown
    bound, any structure we don't model ⇒ keep.
  * Pruning is an optimization layered under the real filter: the scan
    still applies the full predicate to surviving rows, so a
    no-op pruner is merely slower, never wrong.
  * Predicates are decomposed as a top-level OR of ANDs (the common
    backfill shape ``(ts BETWEEN a AND b) OR (ts BETWEEN c AND d)``
    prunes per disjunct, union of survivors). Supported conjuncts:
    ``col <op> literal`` for ``= == < <= > >=``, ``col BETWEEN x AND
    y``, ``col IN (...)``, ``col IS NULL``. Literals: numbers,
    'strings', TIMESTAMP '...' / DATE '...'.
  * **Bare string literals shaped like datetimes are type-resolved.**
    Spark compares ``ts <= '2024-06-02 23:59:59'`` as a timestamp when
    the column IS a timestamp (and the manifest stores isoformat-'T'
    bounds, so the literal must be normalized to 'T' form or ' ' < 'T'
    wrongly prunes everything) — but compares it as a RAW STRING when
    the column is a string (where normalizing would invert Spark's
    ordering and silently mis-prune / mis-drop). The parser therefore
    tags such literals ``str_ts`` and the evaluators resolve them
    against ``col_types`` (column name → 'ts' | 'str' | 'num' |
    'other', from the table schema via ``col_type_categories``). With
    no type information the literal is UNRESOLVABLE: may-match keeps
    the file, all-match refuses to claim it — both conservative.

Two evaluators with opposite defaults:
  * ``file_may_match`` / ``file_may_match_any`` — uncertainty ⇒ True
    (keep the file). Used for scan pruning.
  * ``file_all_match`` — uncertainty ⇒ False (don't claim the file).
    Used by DELETE WHERE's whole-file metadata drop, where an
    optimistic answer deletes live rows. Integer comparisons are
    performed losslessly (no float round-trip: 2^53+1 ≠ 2^53).
"""

from __future__ import annotations

import json
import re

_LIT = r"(?:TIMESTAMP\s+'[^']*'|DATE\s+'[^']*'|'[^']*'|\"[^\"]*\"|[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)"
_CMP_RE = re.compile(
    rf"^\s*`?(\w+)`?\s*(<=|>=|==|=|<|>)\s*({_LIT})\s*$", re.IGNORECASE
)
_IN_RE = re.compile(
    rf"^\s*`?(\w+)`?\s+IN\s*\(\s*({_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s*$", re.IGNORECASE
)
_ISNULL_RE = re.compile(r"^\s*`?(\w+)`?\s+IS\s+NULL\s*$", re.IGNORECASE)
_BETWEEN_RE = re.compile(
    rf"^\s*`?(\w+)`?\s+BETWEEN\s+({_LIT})\s+AND\s+({_LIT})\s*$", re.IGNORECASE
)
_LIT_FINDER = re.compile(_LIT, re.IGNORECASE)

# bare string literal / bound that denotes a timestamp/date instant
# (optionally suffixed with a UTC offset, as tz-aware isoformat bounds are)
_TS_SHAPED = re.compile(
    r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d+)?(Z|\+00:00)?)?$"
)


def _norm_ts(s: str) -> str:
    """One canonical instant text: 'T' separator, UTC suffix stripped
    (the engine session and the manifest writer are both UTC)."""
    s = s.replace(" ", "T")
    if s.endswith("+00:00"):
        s = s[:-6]
    elif s.endswith("Z"):
        s = s[:-1]
    return s

#: sentinel for a conjunct the parser couldn't model. May-match ignores
#: it (keeps the file); all-match treats its presence as "cannot prove".
UNPARSED = ("__unparsed__", "?", ())


def col_type_categories(schema) -> dict:
    """{column name: 'ts' | 'str' | 'num' | 'other'} from a Spark
    ``StructType`` — the type context ``str_ts`` literal resolution
    needs. Duck-typed on ``fields``/``dataType.simpleString()`` so this
    module keeps zero pyspark imports."""
    out: dict = {}
    for f in schema.fields:
        s = f.dataType.simpleString()
        if s.startswith("timestamp") or s == "date":
            out[f.name] = "ts"
        elif s in ("string", "varchar", "char") or s.startswith(("varchar", "char")):
            out[f.name] = "str"
        elif s in (
            "tinyint", "smallint", "int", "bigint", "float", "double"
        ) or s.startswith("decimal"):
            out[f.name] = "num"
        else:
            out[f.name] = "other"
    return out


def _resolve(kind: str, lit, cat: str | None):
    """Resolve a parsed literal against its column's type category →
    (kind, lit) with kind in {'num','str','ts'}, or None when the
    right interpretation is unknowable (unknown column type for a
    ``str_ts`` literal) — callers treat None as incomparable."""
    if kind != "str_ts":
        return kind, lit
    if cat == "ts":
        return "ts", _norm_ts(lit)
    if cat == "str":
        return "str", lit
    return None


def _split_top_level(expr: str, sep: str) -> list[str] | None:
    """Split on top-level ``sep`` ('AND' or 'OR') outside quotes and
    parens. A top-level NOT ⇒ None (structure we don't model). When
    splitting on AND, the AND belonging to a BETWEEN is not a
    separator."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    pending_between = False
    tokens = re.split(r"(\s+|\(|\)|'[^']*'|\"[^\"]*\")", expr)
    for tok in tokens:
        if tok is None or tok == "":
            continue
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        up = tok.upper()
        if depth == 0 and up == "BETWEEN":
            pending_between = True
        if depth == 0 and up == "AND" and pending_between:
            pending_between = False
            buf.append(tok)
            continue
        if depth == 0 and up == sep:
            parts.append("".join(buf))
            buf = []
            continue
        if depth == 0 and up == "NOT":
            return None
        buf.append(tok)
    parts.append("".join(buf))
    return [p for p in (s.strip() for s in parts) if p]


def _parse_literal(s: str):
    """→ (kind, value) with kind in {'num','str','ts','str_ts'}.
    Integer literals stay Python ints (lossless beyond 2^53); bare
    string literals shaped like datetimes become kind ``str_ts`` —
    RAW value kept — and are resolved to 'ts' (normalized) or 'str'
    per the column's actual type at evaluation time."""
    s = s.strip()
    up = s.upper()
    if up.startswith("TIMESTAMP") or up.startswith("DATE"):
        inner = s.split("'", 1)[1].rsplit("'", 1)[0]
        return ("ts", _norm_ts(inner))
    if s and s[0] in "'\"":
        inner = s[1:-1]
        if _TS_SHAPED.match(inner):
            return ("str_ts", inner)
        return ("str", inner)
    if re.fullmatch(r"[-+]?\d+", s):
        return ("num", int(s))
    return ("num", float(s))


def _strip_outer_parens(s: str) -> str:
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i != len(s) - 1:
                    return s  # not one balanced wrapper: leave as-is
        s = s[1:-1].strip()
    return s


def _parse_one_conjunct(p: str) -> tuple | None:
    """One atomic predicate → (col, op, lits) or None (unparseable).
    BETWEEN returns a synthetic ('between') op expanded by the caller."""
    if (m := _CMP_RE.match(p)) is not None:
        op = "=" if m.group(2) == "==" else m.group(2)
        try:
            return (m.group(1), op, [_parse_literal(m.group(3))])
        except ValueError:
            return None
    if (m := _BETWEEN_RE.match(p)) is not None:
        try:
            return (m.group(1), "between", [_parse_literal(m.group(2)), _parse_literal(m.group(3))])
        except ValueError:
            return None
    if (m := _IN_RE.match(p)) is not None:
        try:
            lits = [_parse_literal(x) for x in _LIT_FINDER.findall(m.group(2))]
            return (m.group(1), "in", lits)
        except ValueError:
            return None
    if (m := _ISNULL_RE.match(p)) is not None:
        return (m.group(1), "isnull", [])
    return None


def parse_predicate(expr: str) -> list[list[tuple]] | None:
    """Decompose a predicate as a top-level OR of ANDs →
    ``[disjunct, ...]`` where each disjunct is ``[(col, op, lits), ...]``
    possibly containing the ``UNPARSED`` sentinel. None when the
    expression can't be decomposed at all (top-level NOT)."""
    dis = _split_top_level(expr, "OR")
    if dis is None:
        return None
    out: list[list[tuple]] = []
    for d in dis:
        parts = _split_top_level(_strip_outer_parens(d), "AND")
        if parts is None:
            out.append([UNPARSED])
            continue
        conj: list[tuple] = []
        for p in (_strip_outer_parens(x) for x in parts):
            c = _parse_one_conjunct(p)
            if c is None:
                conj.append(UNPARSED)
            elif c[1] == "between":
                col, _, (lo, hi) = c
                conj.append((col, ">=", [lo]))
                conj.append((col, "<=", [hi]))
            else:
                conj.append(c)
        out.append(conj)
    return out


def parse_conjuncts(expr: str) -> list[tuple]:
    """Back-compat single-conjunction view: the parsed conjuncts when
    the predicate is one top-level conjunction (unparseable members
    dropped — they prune nothing), else [] (no pruning)."""
    d = parse_predicate(expr)
    if d is None or len(d) != 1:
        return []
    return [c for c in d[0] if c is not UNPARSED]


def _compare(bound, kind: str, lit) -> int | None:
    """cmp(bound, literal) → -1/0/1, or None when incomparable (prune
    nothing). Timestamp bounds are stored isoformat; ts-kind literals
    are normalized to the same 'T' form, so lexicographic order is
    chronological. Numeric comparisons are exact (Python int↔float
    comparison is lossless, no float(round-trip) of big ints)."""
    if bound is None:
        return None
    if kind == "num":
        if isinstance(bound, bool) or not isinstance(bound, (int, float)):
            try:
                s = str(bound)
                bound = int(s) if re.fullmatch(r"[-+]?\d+", s) else float(s)
            except (TypeError, ValueError):
                return None
    else:
        if not isinstance(bound, str):
            bound = str(bound)
        if kind == "ts":
            bound = _norm_ts(bound)
            # align precision so a DATE literal compares as midnight
            # against timestamp bounds (and vice versa): without this,
            # a file whose min is exactly midnight would be wrongly
            # pruned by `ts <= DATE 'd'` (isoformat 'dT00:00:00' > 'd')
            if "T" in bound and "T" not in lit:
                lit = lit + "T00:00:00"
            elif "T" in lit and "T" not in bound:
                bound = bound + "T00:00:00"
    return (bound > lit) - (bound < lit)


def _eq_possible(st: dict, kind: str, lit) -> bool:
    """``kind`` must already be resolved ('num'/'str'/'ts')."""
    c_min = _compare(st.get("min"), kind, lit)
    c_max = _compare(st.get("max"), kind, lit)
    if c_min is not None and c_min > 0:
        return False
    if c_max is not None and c_max < 0:
        return False
    # bloom probe (point lookups on hash-distributed keys, where bounds
    # can never discriminate): a definite-absent verdict is exact —
    # blooms have no false negatives — so excluding stays conservative.
    # maybe_contains type-guards: a literal whose type doesn't match
    # the bloom's key type (str / long) probes as "maybe present".
    bl = st.get("bloom")
    if bl and kind in ("str", "num"):
        from iceberg_compaction_spark.functions.bloom import maybe_contains

        if not maybe_contains(bl, lit):
            return False
    return True


def file_may_match(
    stats: dict, conjuncts: list[tuple], col_types: dict | None = None
) -> bool:
    """True unless the file's bounds prove a conjunct can't hold.
    ``conjuncts`` is a single conjunction (AND list). ``col_types``
    (see ``col_type_categories``) resolves ts-shaped bare string
    literals; without it such literals exclude nothing."""
    cats = col_types or {}
    for col, op, lits in conjuncts:
        if (col, op) == (UNPARSED[0], UNPARSED[1]):
            continue  # unknown conjunct can't exclude
        st = stats.get(col)
        if st is None:
            continue  # no bounds for this column → can't exclude
        if op == "isnull":
            if st.get("nulls") == 0:  # known-zero only; unknown is None
                return False
            continue
        cat = cats.get(col)
        if op == "in":
            rl = [_resolve(k, v, cat) for k, v in lits]
            if rl and all(r is not None for r in rl) and not any(
                _eq_possible(st, k, v) for k, v in rl
            ):
                return False
            continue
        r = _resolve(*lits[0], cat)
        if r is None:
            continue  # unresolvable literal can't exclude
        kind, lit = r
        c_min = _compare(st.get("min"), kind, lit)
        c_max = _compare(st.get("max"), kind, lit)
        if op == "=" and not _eq_possible(st, kind, lit):
            return False
        if op == "<" and c_min is not None and c_min >= 0:
            return False
        if op == "<=" and c_min is not None and c_min > 0:
            return False
        if op == ">" and c_max is not None and c_max <= 0:
            return False
        if op == ">=" and c_max is not None and c_max < 0:
            return False
    return True


def file_may_match_any(
    stats: dict, disjuncts: list[list[tuple]] | None, col_types: dict | None = None
) -> bool:
    """OR-of-ANDs form: the file survives if any disjunct may match.
    ``None`` (undecomposable predicate) keeps everything."""
    if disjuncts is None or not disjuncts:
        return True
    return any(file_may_match(stats, d, col_types) for d in disjuncts)


# ----------------------------------------------------------------------
# strict evaluator: does the predicate provably hold for EVERY row?
def _strict_compare(bound, kind: str, lit) -> int | None:
    """Like _compare but refuses anything not provably type-aligned:
    a 'num' literal against a non-numeric bound (string column) is
    incomparable → None, which the all-match caller treats as
    'cannot prove'. No float conversion of integer bounds."""
    if bound is None or isinstance(bound, bool):
        return None
    if kind == "num":
        if not isinstance(bound, (int, float)):
            return None
        return (bound > lit) - (bound < lit)
    if not isinstance(bound, str):
        return None
    if kind == "ts":
        if not _TS_SHAPED.match(bound):
            return None
        bound = _norm_ts(bound)
        if "T" in bound and "T" not in lit:
            lit = lit + "T00:00:00"
        elif "T" in lit and "T" not in bound:
            bound = bound + "T00:00:00"
    return (bound > lit) - (bound < lit)


def _conjunct_all_match(st: dict, op: str, lits, cat: str | None = None) -> bool:
    """True only when [min, max] with zero nulls PROVES every row
    satisfies the conjunct. ``cat`` is the column's type category; a
    ``str_ts`` literal with no type context can never prove."""
    if st is None or st.get("min") is None or st.get("max") is None:
        return False
    if st.get("nulls") != 0:  # unknown or nonzero nulls: a null row fails any comparison
        return False
    mn, mx = st["min"], st["max"]
    if op == "isnull":
        return False  # min/max present ⇒ non-null rows exist
    if op in ("=", "in"):
        if mn != mx:
            return False
        if op == "=":
            r = _resolve(*lits[0], cat)
            if r is None:
                return False
            return _strict_compare(mn, *r) == 0
        rl = [_resolve(k, v, cat) for k, v in lits]
        return any(r is not None and _strict_compare(mn, *r) == 0 for r in rl)
    r = _resolve(*lits[0], cat)
    if r is None:
        return False
    k, v = r
    c_min = _strict_compare(mn, k, v)
    c_max = _strict_compare(mx, k, v)
    if c_min is None or c_max is None:
        return False
    if op == "<":
        return c_max < 0
    if op == "<=":
        return c_max <= 0
    if op == ">":
        return c_min > 0
    if op == ">=":
        return c_min >= 0
    return False


def file_all_match(
    stats: dict, disjuncts: list[list[tuple]] | None, col_types: dict | None = None
) -> bool:
    """True only when some disjunct provably holds for EVERY row of the
    file. Anti-conservative direction: any uncertainty — unknown
    bounds, unknown null count, type mismatch, an UNPARSED conjunct,
    a ts-shaped string literal without column-type context —
    ⇒ False. Used by DELETE WHERE's metadata whole-file drop."""
    if disjuncts is None or not disjuncts:
        return False
    cats = col_types or {}
    for d in disjuncts:
        if not d:
            continue
        if any(c is UNPARSED for c in d):
            continue
        if all(
            _conjunct_all_match(stats.get(col), op, lits, cats.get(col))
            for col, op, lits in d
        ):
            return True
    return False


def stats_of(row: dict) -> dict:
    """A manifest row's decoded ``stats_json`` ({} when absent or
    malformed: no bounds, so nothing is excluded)."""
    try:
        return json.loads(row.get("stats_json") or "{}")
    except ValueError:
        return {}


def prune_files(
    rows: list[dict], filter_expr: str, col_types: dict | None = None
) -> tuple[list[dict], int]:
    """(surviving manifest rows, pruned count) for a scan predicate.
    ``rows`` are data-file manifest entries carrying ``stats_json``.
    ``col_types`` (from ``col_type_categories``) lets ts-shaped bare
    string literals prune on timestamp columns while comparing raw on
    string columns; omitted ⇒ such literals prune nothing."""
    disjuncts = parse_predicate(filter_expr)
    if disjuncts is None:
        return rows, 0
    # a disjunct of only-UNPARSED conjuncts may match anything: no pruning
    if any(all(c is UNPARSED for c in d) for d in disjuncts):
        return rows, 0
    kept = [r for r in rows if file_may_match_any(stats_of(r), disjuncts, col_types)]
    return kept, len(rows) - len(kept)


def classify_data_rows(
    data_rows: list[dict], predicate: str, col_types: dict | None = None
) -> dict:
    """{path: 'pruned' | 'all' | 'straddle'} — the three-way split the
    metadata operators (fast_count, DELETE/UPDATE WHERE) share: no row
    can match, every row matches, or the rows must be scanned."""
    disjuncts = parse_predicate(predicate)
    out = {}
    for r in data_rows:
        stats = stats_of(r)
        if not file_may_match_any(stats, disjuncts, col_types):
            out[r["path"]] = "pruned"
        elif file_all_match(stats, disjuncts, col_types):
            out[r["path"]] = "all"
        else:
            out[r["path"]] = "straddle"
    return out
