"""Light DuckDB-dialect → Spark SQL transpiler (entry point A of the
reference, duckdb-7.cpp:3375 → Parser → Binder; SURVEY.md §3.1).

No general SQL parser ships in this container, so this is a deliberately
bounded token-level rewriter covering the dialect gaps that actually
differ (§2 mapping tables). Spark 4 already accepts much of the dialect
natively (`::` casts, ILIKE, QUALIFY-less windows, lambdas); what we
rewrite:

- function renames + arg-order fixes (string_split→split, list_*→array
  HOFs, strftime/strptime with C→Java format-literal translation, epoch,
  regexp_matches→RLIKE, …)
- `expr GLOB 'pat'` → `expr RLIKE '<anchored regex>'`
- `//` integer division → `div`
- `SELECT DISTINCT ON (k…) … ORDER BY …` → row_number window rewrite
- `QUALIFY pred` → wrapped subquery filter
- replacement scans: `FROM 'file.csv'` → temp view over sources.from_path

Unsupported constructs raise `UnsupportedSQL` rather than silently
mis-translating — same posture as the reference's binder errors.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession

from quackspark.functions.compat import glob_to_regex
from quackspark.functions.timefmt import translate_format
from quackspark.session import local_frame


class UnsupportedSQL(ValueError):
    pass


#: PIVOT output-column cap — bounds the distinct-value driver collect
#: (DuckDB has its own pivot-width limit; see _run_pivot)
PIVOT_MAX_VALUES = 10_000


# --- tokenizer -------------------------------------------------------------

_TOKEN = re.compile(
    r"""
    \$(\w*)\$.*?\$\1\$        # dollar-quoted string (PG heredoc style)
  | [eE]'(?:\\.|''|[^'\\])*'  # escape string (E'a\nb')
  | '(?:[^']|'')*'            # single-quoted string
  | "(?:[^"]|"")*"            # double-quoted identifier
  | `(?:[^`]|``)*`            # backtick identifier (emitted mid-pipeline)
  | --[^\n]*                  # line comment
  | /\*.*?\*/                 # block comment
  | [A-Za-z_][A-Za-z0-9_]*    # identifier / keyword
  | 0[xX][0-9A-Fa-f][0-9A-Fa-f_]*   # hex literal
  | 0[bB][01][01_]*                 # binary literal
  | (?:\d[\d_]*\.?[\d_]*|\.\d[\d_]*)(?:[eE][+-]?\d+)?  # number (underscores, exponent, leading/trailing dot)
  | ::|//|<=>|<=|>=|<>|!=|\|\||->>|->|<<|>>|&& # multi-char operators
  | .                         # any single char
    """,
    re.VERBOSE | re.DOTALL,
)


_DOLLAR_STR = re.compile(r"^\$(\w*)\$(.*)\$\1\$$", re.DOTALL)


def _sql_segments(sql: str):
    """THE one lexical scanner under every pre-tokenizer text pass
    (statement split, nested-comment strip, prepared-param scan — three
    hand-rolled copies of these skip rules diverged through r12, each
    divergence a bug class: r12's was the splitter not knowing dollar
    quotes, so a `'` inside `$tag$…$tag$` swallowed a `;`).

    Yields ``(kind, start, end)`` spans covering the whole text:
    ``code`` (plain SQL), ``str`` (single-quoted, `''` doubling),
    ``estr`` (E'…' with backslash escapes), ``ident`` (double-quoted or
    backtick), ``dollar`` ($tag$…$tag$), ``line`` (-- …), ``block``
    (/* … */ with PG-scanner NESTING). Unterminated regions extend to
    end-of-text, matching the PG scanner's recovery."""
    i, n = 0, len(sql)
    code_start = 0
    prev = ""

    def _code_upto(pos):
        nonlocal code_start
        if pos > code_start:
            yield ("code", code_start, pos)

    while i < n:
        ch = sql[i]
        kind = None
        if ch == "'" or (
            ch in "eE"
            and i + 1 < n
            and sql[i + 1] == "'"
            and not (prev.isalnum() or prev == "_")
        ):
            esc = ch != "'"
            kind = "estr" if esc else "str"
            j = i + (2 if esc else 1)
            while j < n:
                if esc and sql[j] == "\\":
                    j += 2
                    continue
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
        elif ch in '"`':
            kind = "ident"
            j = i + 1
            while j < n:
                if sql[j] == ch:
                    if j + 1 < n and sql[j + 1] == ch:
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
        elif ch == "$" and (m := re.match(r"\$\w*\$", sql[i:])):
            kind = "dollar"
            tag = m.group(0)
            j = sql.find(tag, i + len(tag))
            j = n if j == -1 else j + len(tag)
        elif ch == "-" and sql.startswith("--", i):
            kind = "line"
            j = sql.find("\n", i)
            j = n if j == -1 else j
        elif sql.startswith("/*", i):
            kind = "block"
            depth, j = 1, i + 2
            while j < n and depth:
                if sql.startswith("/*", j):
                    depth += 1
                    j += 2
                elif sql.startswith("*/", j):
                    depth -= 1
                    j += 2
                else:
                    j += 1
        if kind is None:
            prev = ch
            i += 1
            continue
        yield from _code_upto(i)
        yield (kind, i, j)
        prev = sql[j - 1] if j > i else prev
        code_start = j
        i = j
    yield from _code_upto(n)


def _strip_block_comments(sql: str) -> str:
    """Remove block comments with PG-scanner NESTING (`/* a /* b */ c */`
    is ONE comment — ADVICE r11; the tokenizer regex alone stops at the
    first `*/`). String-aware via :func:`_sql_segments`; line comments
    are left for the tokenizer to drop."""
    if "/*" not in sql:
        return sql
    return "".join(
        " " if kind == "block" else sql[a:b]
        for kind, a, b in _sql_segments(sql)
    )


def _tokens(sql: str) -> list[str]:
    # comments are dropped: the emitter re-joins tokens onto ONE line, so a
    # surviving `--` token would comment out the rest of the query.
    # finditer + group(0) (not findall): the dollar-quote alternative needs
    # a backreference group, and findall would return the group instead of
    # the whole match. Dollar-quoted strings normalize to single-quoted
    # immediately so every later pass sees one string form. Nested block
    # comments are flattened out first — the regex alternative only
    # handles the non-nested form.
    sql = _strip_block_comments(sql)
    out = []
    for m in _TOKEN.finditer(sql):
        t = m.group(0)
        if not t.strip() or t.startswith("--") or t.startswith("/*"):
            continue
        if t.startswith("$") and (dm := _DOLLAR_STR.match(t)):
            t = _quote(dm.group(2))
        elif t[0] in "eE" and len(t) > 2 and t[1] == "'" and t.endswith("'"):
            t = _decode_escape_string(t)
        elif t[0].isdigit() or (t[0] == "." and len(t) > 1 and t[1].isdigit()):
            t = _normalize_number(t)
        out.append(t)
    return out


_E_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
              "\\": "\\", "'": "'"}


def _decode_escape_string(tok: str) -> str:
    """E'...' escape-string literal (PG syntax DuckDB accepts) → plain
    single-quoted literal with the C escapes decoded at tokenize time."""
    body = tok[2:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt in _E_ESCAPES:
                out.append(_E_ESCAPES[nxt])
                i += 2
                continue
            if nxt == "x" and i + 3 < len(body):
                try:
                    out.append(chr(int(body[i + 2 : i + 4], 16)))
                    i += 4
                    continue
                except ValueError:
                    pass
            out.append(nxt)
            i += 2
            continue
        if c == "'" and i + 1 < len(body) and body[i + 1] == "'":
            out.append("'")
            i += 2
            continue
        out.append(c)
        i += 1
    return _quote("".join(out))


def _normalize_number(t: str) -> str:
    """DuckDB numeric literal forms Spark's parser rejects: underscore
    separators (1_000_000), hex/binary (0x1F, 0b101 → decimal), bare
    trailing/leading dots (2. / .5 → 2.0 / 0.5)."""
    if t[:2].lower() == "0x":
        return str(int(t.replace("_", ""), 16))
    if t[:2].lower() == "0b":
        return str(int(t.replace("_", ""), 2))
    t = t.replace("_", "")
    if t.startswith("."):
        t = "0" + t
    if t.endswith("."):
        t += "0"
    return t


def _is_string(tok: str) -> bool:
    return tok.startswith("'")


def _str_val(tok: str) -> str:
    return tok[1:-1].replace("''", "'")


def _quote(val: str) -> str:
    return "'" + val.replace("'", "''") + "'"


def _find_call_end(toks: list[str], open_idx: int) -> int:
    """Index of the ')' matching toks[open_idx] == '('."""
    depth = 0
    for j in range(open_idx, len(toks)):
        if toks[j] == "(":
            depth += 1
        elif toks[j] == ")":
            depth -= 1
            if depth == 0:
                return j
    raise UnsupportedSQL("unbalanced parentheses")


def _enclosing_call_name(out: list[str]) -> int | None:
    """Index in ``out`` of the function-name token of the innermost
    still-open call, or None. Used by carrier rewrites to retarget an
    enclosing extraction function when a typed carrier replaces its
    argument (e.g. microsecond(TIME '…') → the µs-of-minute form)."""
    d = 0
    for k in range(len(out) - 1, -1, -1):
        t = out[k]
        if t == ")":
            d += 1
        elif t == "(":
            if d == 0:
                if k > 0 and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", out[k - 1]):
                    return k - 1
                return None
            d -= 1
    return None


def _split_args(toks: list[str]) -> list[list[str]]:
    """Split the token span inside a call into top-level comma args."""
    args: list[list[str]] = [[]]
    depth = 0
    for t in toks:
        if t in ("(", "["):  # '[' — DuckDB list literal / subscript
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        if t == "," and depth == 0:
            args.append([])
        else:
            args[-1].append(t)
    return [a for a in args if a]


# --- rewrite passes --------------------------------------------------------

#: plain function renames (same arity/arg order)
_RENAMES = {
    "string_split": "split",
    "string_split_regex": "split",
    "str_split_regex": "split",
    "regexp_split_to_array": "split",
    "list_transform": "transform",
    "list_apply": "transform",
    "array_apply": "transform",
    "list_filter": "filter",
    "list_contains": "array_contains",
    "list_position": "array_position",
    "list_indexof": "array_position",
    "array_indexof": "array_position",
    "array_has": "array_contains",
    "list_has": "array_contains",
    "array_extract": "element_at",
    "list_element": "element_at",
    "array_zip": "list_zip",
    "array_select": "list_select",
    "array_where": "list_where",
    "array_resize": "list_resize",
    "array_reverse_sort": "list_reverse_sort",
    "array_grade_up": "list_grade_up",
    "array_aggr": "list_aggregate",
    "array_aggregate": "list_aggregate",
    "list_aggr": "list_aggregate",
    "array_reduce": "list_reduce",
    "grade_up": "list_grade_up",
    "apply": "transform",
    "argmax": "max_by",
    "argmin": "min_by",
    "arbitrary": "any_value",
    "array_filter": "filter",
    "array_transform": "transform",
    "array_value": "array",
    "approx_quantile": "approx_percentile",
    "make_timestamptz": "make_timestamp",
    "json_extract_path_text": "json_extract_string",
    "from_hex": "unhex",
    "array_to_json": "to_json",
    "row_to_json": "to_json",
    "get_current_timestamp": "now",
    "transaction_timestamp": "now",
    "sum_no_overflow": "sum",
    "reservoir_quantile": "approx_percentile",
    "json_transform_strict": "json_transform",
    "from_json_strict": "from_json",
    # NOTE: result ORDER is engine-specific (DuckDB hash-set order vs
    # Spark first-argument order); values match, ordering is unspecified
    "list_intersect": "array_intersect",
    "ends_with": "endswith",
    "to_base64": "base64",
    "strlen": "octet_length",
    "gen_random_uuid": "uuid",
    "today": "current_date",
    "current_localtimestamp": "localtimestamp",
    "list_distinct": "array_distinct",
    "list_sort": "array_sort",
    "list_min": "array_min",
    "list_max": "array_max",
    "list_sum": "aggregate_sum_placeholder",  # handled specially below
    "len": "size",
    "list_prepend": "array_prepend_placeholder",  # arg order swapped below
    "list_append": "array_append",
    "array_length": "size",
    "regexp_full_match": "rlike_full_placeholder",  # handled specially
    "mismatches": "hamming_placeholder",
    "ucase": "upper",
    "lcase": "lower",
    "instr": "instr",
    "strpos": "instr",
    "nfc_normalize": "qs_nfc_normalize",
    "nextafter": "qs_nextafter",
    "arg_max": "max_by",
    "arg_min": "min_by",
    "starts_with": "startswith",
    "prefix": "startswith",
    "suffix": "endswith",
    "week": "weekofyear",
    "json_keys": "json_object_keys",
    "from_base64": "unbase64",
    "list_reverse": "reverse",
    "quantile_cont": "percentile",
    "to_timestamp": "timestamp_seconds",  # duckdb to_timestamp(double epoch)
    # epoch_ms handled in _emit_call_extra (overloads + DATE args)
    # epoch_us is handled in _emit_call_extra (DATE args need a cast)
    "list_value": "array",
    "list_pack": "array",
    "struct_pack": "named_struct_placeholder",
    "printf": "format_string",
    "monthname": "monthname_placeholder",
    "dayname": "dayname_placeholder",
}


def _rewrite_calls(toks: list[str]) -> list[str]:
    """Single pass over function calls (innermost handled by recursion)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        low = t.lower()
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        if nxt == "(" and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", t):
            end = _find_call_end(toks, i + 1)
            inner = _rewrite_calls(toks[i + 2 : end])
            args = _split_args(inner)
            out.extend(_emit_call(low, t, args))
            i = end + 1
            continue
        out.append(t)
        i += 1
    return out


def _regex_with_flags(
    pat_toks: list[str], flag_toks: list[str], allow_global: bool
) -> str | None:
    """Fold a DuckDB regex options string ('i','s','m','g' RE2 flags,
    duckdb-6.cpp:4822-4860) into a Java inline-flag prefix. Returns None
    when `allow_global` is set but 'g' is absent (first-match semantics we
    cannot express); raises on flags with no Java equivalent."""
    if not _is_string(pat_toks[0]) or not _is_string(flag_toks[0]):
        raise UnsupportedSQL("regex flags must be literals")
    flags = _str_val(flag_toks[0])
    inline = "".join(c for c in flags if c in "ism")
    unknown = set(flags) - set("ismg")
    if unknown:
        raise UnsupportedSQL(f"unsupported regex flags {unknown}")
    if allow_global and "g" not in flags:
        return None
    pat = _str_val(pat_toks[0])
    return _quote(f"(?{inline}){pat}" if inline else pat)


_POSIX_CLASSES = {
    "alpha": r"\p{Alpha}", "digit": r"\d", "alnum": r"\p{Alnum}",
    "space": r"\s", "upper": r"\p{Upper}", "lower": r"\p{Lower}",
    "punct": r"\p{Punct}", "xdigit": r"\p{XDigit}", "word": r"\w",
    "blank": r"\p{Blank}", "cntrl": r"\p{Cntrl}", "graph": r"\p{Graph}",
    "print": r"\p{Print}",
}

#: functions whose pattern arguments are regexes — POSIX [:class:] atoms
#: (RE2) must become Java \p classes (Java reads [[:digit:]] as a literal
#: character set — silent non-match otherwise)
_REGEX_PATTERN_FNS = {
    "regexp_matches", "regexp_replace", "regexp_extract",
    "regexp_extract_all", "regexp_split_to_array", "regexp_split_to_table",
    "string_split_regex", "str_split_regex", "regexp_full_match",
}


def _posix_regex(tok: str) -> str:
    if not _is_string(tok) or "[:" not in tok:
        return tok
    pat = re.sub(
        r"\[:(\w+):\]",
        lambda m: _POSIX_CLASSES.get(m.group(1), m.group(0)),
        _str_val(tok),
    )
    return _quote(pat)


def _emit_call(low: str, original: str, args: list[list[str]]) -> list[str]:
    def j(arg: list[str]) -> str:
        return " ".join(arg)

    if low.startswith("qs__"):
        # pass-through escape for Spark-native calls emitted by earlier
        # rewrite passes (e.g. _timetz_carrier_toks): `QS__typeof(x)` →
        # `typeof(x)` verbatim, shielding them from the DuckDB-semantics
        # translations below (same convention as RANGE__TVF)
        return _tokens(f"{low[4:]}({', '.join(j(a) for a in args)})")

    if low in _REGEX_PATTERN_FNS and len(args) >= 2:
        args = [args[0]] + [[_posix_regex(t) for t in a] for a in args[1:]]

    if low in ("strftime", "date_format"):
        # strftime(ts, '%Y-%m-%d') — C format, ALWAYS translated (a
        # no-directive format is pure literal text and must be quoted or
        # its letters misfire as Java pattern letters); DuckDB also binds
        # the reversed (format, ts) overload — detect a literal-string
        # first arg and swap. date_format keeps Java semantics unless C
        # directives are present.
        if low == "strftime" and len(args) == 2 and _is_string(args[0][0]) \
                and len(args[0]) == 1 and not _is_string(args[1][0]):
            args = [args[1], args[0]]
        if len(args) == 2 and _is_string(args[1][0]) and len(args[1]) == 1 \
                and (low == "strftime" or "%" in args[1][0]):
            fmt = _quote(translate_format(_str_val(args[1][0])))
            return _tokens(f"date_format({j(args[0])}, {fmt})")
        return _tokens(f"date_format({j(args[0])}, {j(args[1])})")
    if low == "strptime":
        fmt = args[1][0]
        shift = ""
        if _is_string(fmt) and len(args[1]) == 1:
            raw = _str_val(fmt)
            fmt = _quote(translate_format(raw, parse=True))
            if "%y" not in raw.lower():
                # C strptime's missing-field base year is 1900; Spark's
                # to_timestamp defaults to 1970 (oracle:
                # strptime('03','%m') = 1900-03-01)
                shift = " - INTERVAL '70' YEAR"
        return _tokens(f"(to_timestamp({j(args[0])}, {fmt}){shift})")
    if low == "regexp_matches":
        if len(args) == 3:
            pat = _regex_with_flags(args[1], args[2], allow_global=False)
            return _tokens(f"({j(args[0])} RLIKE {pat})")
        return _tokens(f"({j(args[0])} RLIKE {j(args[1])})")
    if low == "regexp_replace":
        # DuckDB default replaces the FIRST match; Spark regexp_replace is
        # always global. 'g'-flagged stays on the codegen'd JVM builtin;
        # the first-only default (and odd flag mixes) route through the
        # Arrow-batched qs_regexp_once kernel (re.sub count=1 — RE2's \1
        # replacement references are Python's, session.py registration).
        if len(args) == 4:
            pat = _regex_with_flags(args[1], args[3], allow_global=True)
            if pat is not None:
                return _tokens(f"regexp_replace({j(args[0])}, {pat}, {j(args[2])})")
            return _tokens(
                f"qs_regexp_once({j(args[0])}, {j(args[1])}, "
                f"{j(args[2])}, {j(args[3])})"
            )
        if len(args) == 3:
            return _tokens(
                f"qs_regexp_once({j(args[0])}, {j(args[1])}, {j(args[2])}, '')"
            )
        raise UnsupportedSQL("regexp_replace takes 3 or 4 arguments")
    if low == "regexp_full_match":
        if _is_string(args[1][0]):
            pat = _quote("^(?:" + _str_val(args[1][0]) + ")$")
            return _tokens(f"({j(args[0])} RLIKE {pat})")
        raise UnsupportedSQL("regexp_full_match with non-literal pattern")
    if low == "epoch":
        return _tokens(f"CAST(unix_timestamp({j(args[0])}) AS DOUBLE)")
    if low == "list_sum":
        # NULL-skipping fold with a DOUBLE accumulator (a type-preserving
        # element_at(..)*0 seed breaks on DECIMAL literals: Spark's
        # aggregate() requires a fixed accumulator type and decimal
        # addition widens). Empty / all-NULL → NULL, as in DuckDB.
        l = j(args[0])
        nn = f"filter({l}, x -> x IS NOT NULL)"
        return _tokens(
            f"aggregate({nn}, CAST(element_at({nn}, 1) AS DOUBLE) * 0, "
            f"(acc, x) -> acc + x)"
        )
    if low == "list_avg":
        l = j(args[0])
        nn = f"filter({l}, x -> x IS NOT NULL)"
        return _tokens(
            f"CAST(aggregate({nn}, CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
            f" / nullif(size({nn}), 0) AS DOUBLE)"
        )
    if low == "list_count":
        return _tokens(f"size(filter({j(args[0])}, x -> x IS NOT NULL))")
    if low == "list_resize" and len(args) in (2, 3):
        l = j(args[0])
        n = j(args[1])
        # 2-arg form pads with NULL; an out-of-bounds element_at gives a
        # NULL already typed to the element type
        fill = (j(args[2]) if len(args) == 3
                else f"element_at({l}, CAST(size({l}) + 1 AS INT))")
        return _tokens(
            f"concat(slice({l}, 1, CAST(least(({n}), size({l})) AS INT)), "
            f"array_repeat({fill}, CAST(greatest(0, ({n}) - size({l})) AS INT)))"
        )
    if low == "list_slice" and len(args) == 3:
        # same 1-based inclusive semantics as the l[a:b] subscript — route
        # through the general clamped emission
        l, a, b = j(args[0]), j(args[1]), j(args[2])
        s_ = (f"greatest(1, CASE WHEN ({a}) < 0 THEN size({l}) + ({a}) + 1"
              f" ELSE ({a}) END)")
        b_ = (f"CASE WHEN ({b}) < 0 THEN size({l}) + ({b}) + 1"
              f" ELSE least(({b}), size({l})) END")
        return _tokens(
            f"slice({l}, CAST(({s_}) AS INT), "
            f"CAST(greatest(0, ({b_}) - ({s_}) + 1) AS INT))"
        )
    if low == "quantile":
        # bare quantile is quantile_disc in DuckDB
        return _emit_call("quantile_disc", original, args)
    if low in ("like_escape", "ilike_escape", "not_like_escape",
               "not_ilike_escape") and len(args) == 3:
        if not _is_string(args[2][0]):
            raise UnsupportedSQL(f"{low} escape must be a string literal")
        op = "ILIKE" if "ilike" in low else "LIKE"
        neg = "NOT " if low.startswith("not_") else ""
        return _tokens(
            f"(({j(args[0])}) {neg}{op} ({j(args[1])}) ESCAPE {args[2][0]})"
        )
    if low == "txid_current":
        # single-session shim: no MVCC transaction ids on Spark
        return _tokens("CAST(0 AS BIGINT)")
    if low == "epoch_us" and len(args) == 1:
        # DuckDB epoch_us accepts DATE too (date_trunc day-or-coarser
        # returns DATE); Spark unix_micros is TIMESTAMP-only
        return _tokens(f"unix_micros(CAST({j(args[0])} AS TIMESTAMP))")
    if low in ("ltrim", "rtrim", "trim") and len(args) == 2:
        # DuckDB: trim(str, chars); Spark's 2-arg form is trim(trimStr,
        # str) — REVERSED. Passing through silently trims the wrong
        # operand, so swap.
        return _tokens(f"{low}({j(args[1])}, {j(args[0])})")
    if low == "weekday" and len(args) == 1:
        # DuckDB weekday = dayofweek (Sunday=0); Spark's weekday is
        # Monday=0 — off-by-rotation silent drift
        return _tokens(f"(dayofweek({j(args[0])}) - 1)")
    if low == "julian" and len(args) == 1:
        # DuckDB's julian() anchors 1970-01-01 00:00 at 2440588.0
        # (midnight-based day count, verified against the oracle)
        return _tokens(
            f"(CAST(unix_micros(CAST({j(args[0])} AS TIMESTAMP)) AS DOUBLE)"
            f" / 86400000000.0 + 2440588.0)"
        )
    if low == "datetrunc":
        # alias — route through date_trunc so the DATE-result rule applies
        return _emit_call("date_trunc", original, args)
    if low == "array_length" and len(args) == 2:
        if args[1] == ["1"]:
            return _tokens(f"size({j(args[0])})")
        raise UnsupportedSQL("array_length with dimension > 1")
    if low in ("add", "subtract", "multiply") and len(args) == 2:
        op = {"add": "+", "subtract": "-", "multiply": "*"}[low]
        return _tokens(f"(({j(args[0])}) {op} ({j(args[1])}))")
    if low == "divide":
        raise UnsupportedSQL(
            "divide(): integer inputs floor-divide but floats true-divide "
            "in DuckDB — write / or // explicitly"
        )
    if low == "count_star" and not args:
        return _tokens("count(*)")
    if low == "microsecond" and len(args) == 1:
        # seconds-within-minute incl. fraction, in µs (Postgres rule)
        return _tokens(
            f"CAST(pmod(unix_micros(CAST({j(args[0])} AS TIMESTAMP)),"
            f" 60000000) AS BIGINT)"
        )
    if low == "millisecond" and len(args) == 1:
        return _tokens(
            f"CAST(pmod(unix_millis(CAST({j(args[0])} AS TIMESTAMP)),"
            f" 60000) AS BIGINT)"
        )
    if low == "millennium" and len(args) == 1:
        return _tokens(
            f"CAST(ceil(year(CAST({j(args[0])} AS DATE)) / 1000.0) AS BIGINT)"
        )
    if low == "epoch_ns" and len(args) == 1:
        return _tokens(
            f"(unix_micros(CAST({j(args[0])} AS TIMESTAMP)) * 1000)"
        )
    if low in ("timezone_hour", "timezone_minute") and len(args) == 1:
        # UTC session: instants carry no offset (DuckDB returns 0 for
        # TIMESTAMPTZ under a UTC zone)
        return _tokens("CAST(0 AS BIGINT)")
    if low == "try_strptime" and len(args) == 2:
        fmt = args[1][0]
        shift = ""
        if _is_string(fmt) and len(args[1]) == 1:
            raw = _str_val(fmt)
            fmt = _quote(translate_format(raw, parse=True))
            if "%y" not in raw.lower():
                shift = " - INTERVAL '70' YEAR"  # 1900 base, see strptime
        return _tokens(f"(try_to_timestamp({j(args[0])}, {fmt}){shift})")
    if low == "signbit" and len(args) == 1:
        # string probe catches -0.0, which `< 0` cannot
        return _tokens(f"(CAST(({j(args[0])}) AS STRING) LIKE '-%')")
    if low in ("length_grapheme", "left_grapheme", "right_grapheme"):
        raise UnsupportedSQL(
            f"{low}: no grapheme-cluster segmentation in Spark builtins"
        )
    if low == "regexp_escape" and len(args) == 1:
        # token-level literals use DuckDB's no-backslash-escape form; the
        # emitter doubles them for Spark's parser
        pat = r"'([.^$|()\[\]{}*+?\\])'"
        return _tokens(
            "regexp_replace(" + j(args[0]) + ", " + pat + r", '\\$1')"
        )
    if low == "kurtosis_pop" and len(args) == 1:
        # population excess kurtosis m4/m2² − 3 via single-pass moments
        # (Spark's kurtosis applies a different correction)
        x = f"CAST(({j(args[0])}) AS DOUBLE)"
        n, s1 = f"count({x})", f"sum({x})"
        s2 = f"sum(pow({x}, 2))"
        s3, s4 = f"sum(pow({x}, 3))", f"sum(pow({x}, 4))"
        m2 = f"(({s2}) - pow({s1}, 2) / {n}) / {n}"
        m4 = (f"(({s4}) - 4 * ({s3}) * ({s1}) / {n}"
              f" + 6 * ({s2}) * pow({s1}, 2) / pow({n}, 2)"
              f" - 3 * pow({s1}, 4) / pow({n}, 3)) / {n}")
        return _tokens(f"(({m4}) / pow({m2}, 2) - 3)")
    if low == "json_type" and len(args) == 1:
        t_ = f"trim({j(args[0])})"
        return _tokens(
            f"(CASE WHEN {t_} IS NULL THEN NULL"
            f" WHEN left({t_}, 1) = '{{' THEN 'OBJECT'"
            f" WHEN left({t_}, 1) = '[' THEN 'ARRAY'"
            f" WHEN left({t_}, 1) = '\"' THEN 'VARCHAR'"
            f" WHEN {t_} IN ('true', 'false') THEN 'BOOLEAN'"
            f" WHEN {t_} = 'null' THEN 'NULL'"
            f" WHEN {t_} RLIKE '^-?[0-9]+$' THEN"
            f" (CASE WHEN left({t_}, 1) = '-' THEN 'BIGINT' ELSE 'UBIGINT' END)"
            f" ELSE 'DOUBLE' END)"
        )
    if low == "parse_path" and len(args) == 1:
        return _tokens(_parse_path_sql(j(args[0])))
    if low == "parse_filename" and len(args) in (1, 2):
        p = j(args[0])
        base = f"element_at(split({p}, '[/\\\\\\\\]'), -1)"
        if len(args) == 2 and args[1] and args[1][0].lower() == "true":
            return _tokens(f"regexp_replace({base}, '[.][^.]*$', '')")
        return _tokens(base)
    if low == "parse_dirpath" and len(args) == 1:
        # no separator at all → '' (oracle: parse_dirpath('abc') = '')
        p = j(args[0])
        return _tokens(
            f"CASE WHEN ({p}) RLIKE '[/\\\\\\\\]' THEN "
            f"regexp_replace({p}, '[/\\\\\\\\][^/\\\\\\\\]*$', '') "
            f"ELSE '' END"
        )
    if low == "parse_dirname" and len(args) == 1:
        p = j(args[0])
        return _tokens(
            f"CASE WHEN ({p}) RLIKE '[/\\\\\\\\]' THEN "
            f"element_at({_parse_path_sql(p)}, 1) ELSE '' END"
        )
    if low == "formatreadablesize" and len(args) == 1:
        return _tokens(_format_bytes_sql(j(args[0])))
    if low == "formatreadabledecimalsize" and len(args) == 1:
        return _tokens(_format_bytes_decimal_sql(j(args[0])))
    if (low == "from_json" and len(args) == 2 and len(args[1]) == 1
            and _is_string(args[1][0])
            and _str_val(args[1][0]).lstrip()[:1] in ("{", "[")):
        # DuckDB's from_json(j, template) IS json_transform; Spark's
        # native from_json takes a DDL schema string and passes through
        return _emit_call("json_transform", original, args)
    if low == "bitstring" and len(args) == 2:
        # pad the '0'/'1'-string BIT carrier to the requested width
        return _tokens(f"lpad({j(args[0])}, CAST({j(args[1])} AS INT), '0')")
    if low in ("current_localtime", "get_current_time") and not args:
        # TIME carrier: µs since midnight (UTC session)
        return _tokens("pmod(unix_micros(now()), 86400000000)")
    if low == "current_schemas":
        return _tokens("array(current_schema())")
    if low == "json_extract_path":
        return _emit_call("json_extract", original, args)
    if low == "setseed":
        raise UnsupportedSQL(
            "setseed: Spark has no global RNG seed — use rand(seed) / "
            "the deterministic md5-hash sampling idioms instead"
        )
    if low == "substring_grapheme":
        raise UnsupportedSQL(
            "substring_grapheme: no grapheme-cluster segmentation in "
            "Spark builtins — substring() would silently mis-handle "
            "combining sequences"
        )
    if low == "json_array":
        return _tokens(f"to_json(array({', '.join(j(a) for a in args)}))")
    if low == "json_quote" and len(args) == 1:
        # Spark's to_json wants a container — wrap in a 1-element array
        # and strip the outer brackets (exact for any payload)
        w = f"to_json(array({j(args[0])}))"
        return _tokens(f"substr({w}, 2, length({w}) - 2)")
    if low == "json_object" and not args:
        return _tokens("'{}'")
    if low == "json_object" and args and len(args) % 2 == 0:
        # literal keys → named_struct so each value KEEPS its own type
        # ({"a":1,"b":"x"}; a map would coerce 1 to "1" — r12 fn sweep);
        # computed keys keep the map form (values must share a type)
        if all(len(k) == 1 and _is_string(k[0]) for k in args[::2]):
            pairs = ", ".join(
                f"{k[0]}, {j(v)}" for k, v in zip(args[::2], args[1::2])
            )
            # DuckDB keeps NULL values ({"a":null}); Spark's to_json drops
            # them by default — force ignoreNullFields=false (ADVICE r12)
            return _tokens(
                f"to_json(named_struct({pairs}),"
                f" map('ignoreNullFields', 'false'))"
            )
        return _tokens(
            f"to_json(map({', '.join(j(a) for a in args)}),"
            f" map('ignoreNullFields', 'false'))"
        )
    if low == "json_group_object" and len(args) == 2:
        return _tokens(
            f"to_json(map_from_entries(collect_list(struct({j(args[0])},"
            f" {j(args[1])}))))"
        )
    if low in ("json_merge_patch", "json_structure"):
        raise UnsupportedSQL(
            f"{low}: recursive JSON-shape semantics have no faithful "
            f"Spark-builtin translation"
        )
    if (low == "json_transform" and len(args) == 2
            and len(args[1]) == 1 and _is_string(args[1][0])):
        # literal structure template → from_json with the derived schema
        import json as _json

        try:
            tmpl = _json.loads(_str_val(args[1][0]))
        except ValueError:
            raise UnsupportedSQL("json_transform template must be valid JSON")

        type_map = {
            "varchar": "STRING", "json": "STRING", "integer": "INT",
            "int": "INT", "bigint": "BIGINT", "double": "DOUBLE",
            "boolean": "BOOLEAN", "date": "DATE", "timestamp": "TIMESTAMP",
            "float": "FLOAT", "smallint": "SMALLINT", "tinyint": "TINYINT",
            "ubigint": "DECIMAL(20,0)", "hugeint": "DECIMAL(38,0)",
        }

        def _schema(t):
            if isinstance(t, dict):
                inner = ", ".join(f"`{k}`: {_schema(v)}" for k, v in t.items())
                return f"STRUCT<{inner}>"
            if isinstance(t, list):
                if len(t) != 1:
                    raise UnsupportedSQL(
                        "json_transform array template needs one element"
                    )
                return f"ARRAY<{_schema(t[0])}>"
            if isinstance(t, str):
                base = t.lower().split("(")[0].strip()
                if base in type_map:
                    return type_map[base]
                raise UnsupportedSQL(f"json_transform type {t!r}")
            raise UnsupportedSQL("json_transform template form")

        return _tokens(f"from_json({j(args[0])}, {_quote(_schema(tmpl))})")
    if low == "list_aggregate":
        if len(args) >= 2 and _is_string(args[1][0]):
            fn = _str_val(args[1][0]).lower()
            if fn in ("sum",):
                return _emit_call("list_sum", original, [args[0]])
            if fn in ("avg", "mean"):
                return _emit_call("list_avg", original, [args[0]])
            if fn == "count":
                return _emit_call("list_count", original, [args[0]])
            if fn in ("min",):
                return _tokens(f"array_min({j(args[0])})")
            if fn in ("max",):
                return _tokens(f"array_max({j(args[0])})")
            if fn == "product":
                # order-stable fold (functions/compat.list_product_sorted)
                return _tokens(
                    f"aggregate(({j(args[0])}), CAST(1.0 AS DOUBLE),"
                    f" (acc, x) -> acc * CAST(x AS DOUBLE))"
                )
            if fn == "string_agg":
                # DuckDB's string_agg default separator is ',' (ADVICE r1);
                # an explicit separator arrives as a 3rd literal argument.
                sep = "','"
                if len(args) >= 3:
                    if not _is_string(args[2][0]):
                        raise UnsupportedSQL(
                            "list_aggregate string_agg separator must be a literal"
                        )
                    sep = _quote(_str_val(args[2][0]))
                return _tokens(f"array_join({j(args[0])}, {sep})")
        raise UnsupportedSQL(f"list_aggregate form not supported: {args}")
    if low == "struct_pack":
        # struct_pack(a := expr, b := expr2) → named_struct('a', expr, ...)
        parts = []
        for a in args:
            if len(a) >= 3 and a[1] == ":" and a[2] == "=":
                parts.append(f"'{a[0]}', {' '.join(a[3:])}")
            elif len(a) >= 2 and a[1] == ":=":
                parts.append(f"'{a[0]}', {' '.join(a[2:])}")
            else:
                raise UnsupportedSQL("struct_pack needs name := expr")
        return _tokens(f"named_struct({', '.join(parts)})")
    if low == "list_extract":
        return _tokens(f"element_at({j(args[0])}, {j(args[1])})")
    if low == "monthname":
        return _tokens(f"date_format({j(args[0])}, 'MMMM')")
    if low == "dayname":
        return _tokens(f"date_format({j(args[0])}, 'EEEE')")
    if low == "jaccard":
        a, b = j(args[0]), j(args[1])
        ca, cb = f"array_distinct(split({a}, ''))", f"array_distinct(split({b}, ''))"
        return _tokens(
            f"(CAST(size(array_intersect({ca}, {cb})) AS DOUBLE)"
            f" / size(array_union({ca}, {cb})))"
        )
    if low in ("jaro_winkler_similarity", "jaro_winkler"):
        return _tokens(f"jaro_winkler_similarity({j(args[0])}, {j(args[1])})")
    if low == "time_bucket":
        # time_bucket(INTERVAL n unit | INTERVAL 'n unit', ts) —
        # epoch-floor arithmetic
        interval = [t.lower() for t in args[0]]
        pair = None
        if interval and interval[0] == "interval" and len(interval) == 3:
            pair = (interval[1], interval[2])
        elif (interval and interval[0] == "interval" and len(interval) == 2
                and _is_string(args[0][1])):
            words = _str_val(args[0][1]).split()
            if len(words) == 2:
                pair = (words[0], words[1].lower())
        if pair:
            mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}
            unit = mult.get(pair[1])
            if unit:
                secs = int(pair[0]) * unit
                ts = j(args[1])
                return _tokens(
                    f"timestamp_seconds(unix_timestamp({ts}) "
                    f"- unix_timestamp({ts}) % {secs})"
                )
        raise UnsupportedSQL(f"time_bucket form not supported: {args[0]}")
    if low == "mismatches":
        a, b = j(args[0]), j(args[1])
        return _tokens(
            f"size(filter(zip_with(split({a}, ''), split({b}, ''),"
            f" (x, y) -> x != y), m -> m))"
        )
    if low in ("list_cat", "list_concat") and args:
        # array concatenation: Spark's concat handles arrays natively —
        # emitted directly (NOT via the string-concat rewrite below)
        return _tokens(f"concat({', '.join(j(a) for a in args)})")
    if low == "concat" and args:
        # DuckDB's concat() SKIPS NULL inputs (concat(NULL,'_','10') =
        # '_10'); Spark's concat returns NULL on any NULL input —
        # concat_ws('') has exactly DuckDB's skip-NULL semantics (found
        # by tools/fuzz_ddl.py state diffing). Args cast to STRING since
        # concat_ws rejects non-string inputs DuckDB would stringify.
        # (Array callers use list_cat/list_concat/array_concat/||, which
        # keep Spark's array concat above.)
        inner = ", ".join(f"CAST({j(a)} AS STRING)" for a in args)
        return _tokens(f"concat_ws('', {inner})")
    extra = _emit_call_extra(low, original, args, j)
    if extra is not None:
        return extra
    if low in _RENAMES and not _RENAMES[low].endswith("_placeholder"):
        name = _RENAMES[low]
        if name != low:
            # re-dispatch: the target may itself be a translated form
            # (e.g. array_zip → list_zip's struct-building branch)
            return _emit_call(name, name, args)
        inner = ", ".join(j(a) for a in args)
        return _tokens(f"{name}({inner})")
    # default: passthrough untouched
    inner = ", ".join(j(a) for a in args)
    return _tokens(f"{original}({inner})")


def _dp(unit: str, x: str) -> str:
    return f"date_part('{unit}', {x})"


def _date_part_fixup(unit: str, x: str) -> str | None:
    """Units where Spark's date_part/extract numbering or support differs
    from DuckDB (verified against the oracle): dow Sunday=0, isodow
    Monday=1..Sunday=7, sub-second parts carry the seconds-within-minute
    fraction."""
    if unit == "dow":
        return f"(dayofweek({x}) - 1)"
    if unit == "isodow":
        return f"(pmod(dayofweek({x}) + 5, 7) + 1)"
    if unit in ("microsecond", "microseconds"):
        return (f"CAST(pmod(unix_micros(CAST({x} AS TIMESTAMP)),"
                f" 60000000) AS BIGINT)")
    if unit in ("millisecond", "milliseconds"):
        return (f"CAST(pmod(unix_millis(CAST({x} AS TIMESTAMP)),"
                f" 60000) AS BIGINT)")
    return None


def _split_order_by(
    arg: list[str],
) -> tuple[list[str], list[str] | None, bool]:
    """Split `expr ORDER BY key [ASC|DESC]` inside a single aggregate
    argument (DuckDB puts the modifier in the arg list). Returns
    (expr, key, descending)."""
    depth = 0
    for k, t in enumerate(arg):
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        elif depth == 0 and t.lower() == "order" and k + 1 < len(arg) and arg[k + 1].lower() == "by":
            key = arg[k + 2 :]
            desc = False
            if key and key[-1].lower() == "asc":
                key = key[:-1]
            elif key and key[-1].lower() == "desc":
                key = key[:-1]
                desc = True
            return arg[:k], key, desc
    return arg, None, False


def _gather_order_keys(
    key: list[str], desc: bool, extra_args: list[list[str]]
) -> tuple[str, bool]:
    """Multi-key aggregate ORDER BY: the keys after the first arrive as
    extra top-level call arguments (the arg splitter cut at the commas).
    Returns a \\x00,-joined key span for _sorted_collect (one struct
    field per key). Mixed ASC/DESC cannot ride the positional struct
    sort — refuse."""
    keys = [(key, desc)]
    for a in extra_args:
        d = False
        k = a
        if k and k[-1].lower() == "asc":
            k = k[:-1]
        elif k and k[-1].lower() == "desc":
            k = k[:-1]
            d = True
        keys.append((k, d))
    if len({d for _, d in keys}) > 1:
        raise UnsupportedSQL("aggregate ORDER BY with mixed ASC/DESC keys")
    joined = "\x00,".join(" ".join(k) for k, _ in keys)
    return joined, keys[0][1]


def _sorted_collect(x: str, key: str, desc: bool = False) -> str:
    """ORDER-BY-modified list aggregate: sort-by-key via struct array_sort
    (structs order by field position), then project the value back out.
    Multi-key orders arrive as \\x00,-separated spans and become one
    struct field per key. DESC = reverse of the ascending sort (tie
    order is unspecified in the reference's sorted-aggregate too)."""
    keys = key.split("\x00,") if "\x00," in key else [key]
    fields = ", ".join(
        f"'k{n}', ({k.strip()})" for n, k in enumerate(keys)
    )
    asc = (
        f"array_sort(collect_list(named_struct({fields}, 'v', ({x}))))"
    )
    if desc:
        asc = f"reverse({asc})"
    return f"transform({asc}, s -> s.v)"


#: DuckDB to_<unit>() interval constructors → make_interval slot index
#: (years, months, weeks, days, hours, minutes, seconds) and multiplier
_TO_INTERVAL_UNITS = {
    "to_years": (0, 1), "to_decades": (0, 10), "to_centuries": (0, 100),
    "to_millennia": (0, 1000), "to_months": (1, 1), "to_quarters": (1, 3),
    "to_weeks": (2, 1), "to_days": (3, 1), "to_hours": (4, 1),
    "to_minutes": (5, 1), "to_seconds": (6, 1),
    "to_milliseconds": (6, 0.001), "to_microseconds": (6, 0.000001),
}


#: aggregates where an inside-the-call ORDER BY modifier is semantically
#: void (DuckDB accepts it on every aggregate) — stripped at translation
_ORDER_INSENSITIVE_AGGS = {
    "sum", "avg", "mean", "count", "min", "max", "bool_and", "bool_or",
    "bit_and", "bit_or", "bit_xor", "stddev", "stddev_pop", "stddev_samp",
    "variance", "var_pop", "var_samp", "entropy",
}


#: window functions whose DuckDB form takes IGNORE/RESPECT NULLS inside the
#: argument list; Spark wants it after the call
_NULLS_MODIFIER_FNS = {
    "first_value", "last_value", "lead", "lag", "nth_value", "first",
    "last", "any_value",
}


def _emit_call_extra(low, original, args, j) -> list[str] | None:
    """Round-2 corpus-driven translations (VERDICT r1 #4): every branch is
    verified by tools/sqlfront_corpus_sweep.py against DuckDB executing the
    identical text. Returns None → fall through to rename/passthrough."""
    if low in _NULLS_MODIFIER_FNS and args:
        tail = [t.lower() for t in args[-1][-2:]]
        if tail in (["ignore", "nulls"], ["respect", "nulls"]):
            mode = " ".join(args[-1][-2:]).upper()
            args = args[:-1] + [args[-1][:-2]]
            inner = ", ".join(j(a) for a in args)
            return _tokens(f"{original}({inner}) {mode}")
    if low == "count" and not args:
        # zero-arg count() is count(*) in DuckDB (star is implicit)
        return _tokens("count(*)")
    if (low in ("list_transform", "list_filter", "array_transform",
                "array_filter", "list_apply", "array_apply", "apply")
            and len(args) == 2):
        # two-parameter lambda: DuckDB's index is 1-BASED, Spark's is
        # 0-based — substitute i → (i + 1) in the body or the results
        # silently shift by one element
        lam = args[1]
        if (len(lam) > 5 and lam[0] == "(" and _IDENT.match(lam[1])
                and lam[2] == "," and _IDENT.match(lam[3])
                and lam[4] == ")" and lam[5] == "->"):
            idx = lam[3]
            body = [
                t if t != idx else None for t in lam[6:]
            ]
            new_body: list[str] = []
            for t in body:
                if t is None:
                    new_body.extend(["(", idx, "+", "1", ")"])
                else:
                    new_body.append(t)
            fn = "filter" if "filter" in low else "transform"
            return _tokens(
                f"{fn}({j(args[0])}, ({lam[1]}, {idx}) -> "
                + " ".join(new_body) + ")"
            )
    if low in _ORDER_INSENSITIVE_AGGS and args:
        # DuckDB accepts ORDER BY inside ANY aggregate; for
        # order-insensitive ones the modifier is semantically void — strip.
        # With multi-key modifiers (sum(x ORDER BY k1, k2)) the comma-split
        # keys arrive as extra args: drop the whole modifier INCLUDING the
        # trailing key args, whichever arg the ORDER BY starts in.
        for ai, a in enumerate(args):
            x, key, desc = _split_order_by(a)
            if key is not None:
                return _emit_call(low, original, args[:ai] + [x])
    if low in ("list", "array_agg") and args:
        first = args[0]
        distinct = first and first[0].lower() == "distinct"
        if distinct:
            first = first[1:]
        x, key, desc = _split_order_by(first)
        if key is not None and distinct:
            # DISTINCT + ORDER BY: only key == value is expressible
            # (per-group sort of the distinct set)
            if len(args) > 1 or [t.lower() for t in key] != [t.lower() for t in x]:
                raise UnsupportedSQL(
                    f"{low}(DISTINCT x ORDER BY k) with k != x"
                )
            return _tokens(
                f"sort_array(collect_set({j(x)}), {'false' if desc else 'true'})"
            )
        if key is not None:
            kj, desc = _gather_order_keys(key, desc, args[1:])
            return _tokens(_sorted_collect(j([*x]), kj, desc))
        if low == "array_agg":
            return None  # Spark 4 has array_agg natively (incl. DISTINCT)
        inner = ", ".join(j(a) for a in args)
        if distinct:
            return _tokens(f"collect_set({j(x)})")
        return _tokens(f"collect_list({inner})")
    if low in ("string_agg", "listagg", "group_concat") and args:
        distinct = args[0] and args[0][0].lower() == "distinct"
        if distinct:
            args = [args[0][1:]] + args[1:]
        extra: list[list[str]] = []
        if len(args) >= 2:
            x, sep_arg = args[0], args[1]
            sep, key, desc = _split_order_by(sep_arg)
            extra = args[2:]
        else:
            # 1-arg form (default ',' separator), ORDER BY rides on the value
            x, key, desc = _split_order_by(args[0])
            sep = ["','"]
        if extra and key is None:
            raise UnsupportedSQL(f"{low} with more than 2 arguments")
        if key is not None and extra:
            kj, desc = _gather_order_keys(key, desc, extra)
            if distinct:
                raise UnsupportedSQL(
                    "string_agg(DISTINCT …) with multi-key ORDER BY"
                )
            return _tokens(
                f"array_join({_sorted_collect(j(x), kj, desc)}, {j(sep)})"
            )
        if distinct and key is not None:
            if [t.lower() for t in key] != [t.lower() for t in x]:
                raise UnsupportedSQL(
                    "string_agg(DISTINCT x ... ORDER BY k) with k != x"
                )
            return _tokens(
                f"array_join(sort_array(collect_set({j(x)}),"
                f" {'false' if desc else 'true'}), {j(sep)})"
            )
        if distinct:
            return _tokens(f"array_join(collect_set({j(x)}), {j(sep)})")
        if key is not None:
            return _tokens(
                f"array_join({_sorted_collect(j(x), j(key), desc)}, {j(sep)})"
            )
        if low == "string_agg" and len(args) == 2:
            return None  # Spark 4 has string_agg
        return _tokens(f"string_agg({j(x)}, {j(sep)})")
    if low in ("first", "last", "any_value") and args:
        x, key, desc = _split_order_by(args[0])
        if key is not None:
            # ordered first/last: sorted-collect then take an end
            # (any_value with an order is first by definition)
            kj, desc = _gather_order_keys(key, desc, args[1:])
            pos = "-1" if low == "last" else "1"
            return _tokens(
                f"element_at({_sorted_collect(j(x), kj, desc)}, {pos})"
            )
    if low == "bitstring_agg" and len(args) == 3:
        # BIT carrier is the '0'/'1' string: bit (x - lo), counted from
        # the left, set per distinct value → 63-bit BIGINT mask, then
        # reverse(bin()) padded to width (verified vs DuckDB)
        x, lo, hi = j(args[0]), j(args[1]), j(args[2])
        if (
            re.fullmatch(r"-?\d+", lo)
            and re.fullmatch(r"-?\d+", hi)
            and int(hi) - int(lo) + 1 > 63
        ):
            raise UnsupportedSQL("bitstring_agg range wider than 63 bits")
        mask = (
            f"sum(DISTINCT shiftleft(CAST(1 AS BIGINT), "
            f"CAST(({x}) - ({lo}) AS INT)))"
        )
        return _tokens(
            f"rpad(reverse(bin({mask})), CAST(({hi}) - ({lo}) + 1 AS INT), '0')"
        )
    if low in ("fsum", "sumkahan", "kahan_sum", "favg") and len(args) == 1:
        # Kahan-compensated sums: exact on ≤6-dp inputs, which the
        # micro-unit integer sum reproduces bit-for-bit (_util.dsum twin)
        x = j(args[0])
        s = f"(CAST(sum(CAST(round(({x}) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)"
        if low == "favg":
            return _tokens(f"({s} / count({x}))")
        return _tokens(s)
    if low == "mad":
        raise UnsupportedSQL(
            "mad needs nested median aggregates — compute "
            "median(abs(x - m)) against a scalar-subquery median explicitly"
        )
    if low == "array_to_string" and len(args) == 2:
        return _tokens(f"array_join({j(args[0])}, {j(args[1])})")
    if low in ("len", "length") and len(args) == 1 and _is_string(args[0][0]) \
            and len(args[0]) == 1:
        # polymorphic len: a string literal argument is definitely not a
        # list — route to length() (the blanket len→size rename assumes
        # the corpus's list-heavy usage)
        return _tokens(f"length({j(args[0])})")
    if low == "repeat" and len(args) == 2 and args[0] and (
        args[0][0] == "[" or args[0][0].lower() in ("array", "list_value")
    ):
        # repeat(list, n) flattens in DuckDB; bracket-literal lists are
        # detectable at transpile time
        return _tokens(f"flatten(array_repeat({j(args[0])}, {j(args[1])}))")
    if low == "charindex" and len(args) == 2:
        # charindex(needle, haystack) — instr has the reverse arg order
        return _tokens(f"instr({j(args[1])}, {j(args[0])})")
    if low == "map" and len(args) == 2:
        # DuckDB's two-argument map takes (key_list, value_list); Spark's
        # variadic map() would read them as one key-value pair
        return _tokens(f"map_from_arrays({j(args[0])}, {j(args[1])})")
    if low == "log" and len(args) == 1:
        # DuckDB 1-arg log is base-10 (duckdb-6.cpp math registration);
        # Spark's is natural log — silent drift without this. The 2-arg
        # log(base, x) form agrees between engines and passes through.
        return _tokens(f"log10({j(args[0])})")
    if low == "sign" and len(args) == 1:
        # DuckDB returns TINYINT; Spark returns DOUBLE
        return _tokens(f"CAST(sign({j(args[0])}) AS INT)")
    if low == "fdiv" and len(args) == 2:
        # floor division, DOUBLE result for all numeric inputs in DuckDB
        return _tokens(
            f"CAST(floor(({j(args[0])}) / ({j(args[1])})) AS DOUBLE)"
        )
    if low == "fmod" and len(args) == 2:
        return _tokens(f"CAST((({j(args[0])}) % ({j(args[1])})) AS DOUBLE)")
    if low == "date_add" and len(args) == 2:
        # DuckDB date_add(date, INTERVAL|int); Spark's builtin only takes
        # day counts — `+` handles both operand kinds in both engines.
        # The INTERVAL overload returns TIMESTAMP in DuckDB (int → DATE).
        add = f"(({j(args[0])}) + ({j(args[1])}))"
        if any(t.lower() == "interval" for t in args[1]):
            return _tokens(f"CAST({add} AS TIMESTAMP)")
        return _tokens(add)
    if low == "epoch_ms" and len(args) == 1:
        # overloaded in DuckDB: epoch_ms(BIGINT ms) → TIMESTAMP, while
        # epoch_ms(TIMESTAMP/DATE) → BIGINT ms. Only arguments whose type
        # is evident at transpile time are translated; anything else
        # (e.g. a bare column that might be a ms BIGINT) is refused
        # rather than silently mistranslated.
        a0 = args[0]
        if len(a0) == 1 and re.fullmatch(r"\d+", a0[0]):
            return _tokens(f"timestamp_millis({a0[0]})")
        head = a0[0].lower() if a0 else ""
        temporal = (
            head in ("timestamp", "timestamptz", "date", "now",
                     "current_timestamp", "current_date", "get_current_timestamp")
            or (head == "cast" and any(
                t.lower() in ("timestamp", "timestamptz", "date")
                for t in a0))
        )
        if temporal:
            return _tokens(f"unix_millis(CAST({j(a0)} AS TIMESTAMP))")
        raise UnsupportedSQL(
            "epoch_ms(expr) where the argument type is not evident at "
            "translation time (DuckDB overloads BIGINT ms → TIMESTAMP vs "
            "TIMESTAMP → ms) — use timestamp_millis(x) or "
            "unix_millis(CAST(x AS TIMESTAMP)) explicitly"
        )
    if low == "list_zip" and len(args) == 2:
        # longest-wins zip with NULL padding in both engines; DuckDB names
        # the struct fields list_1/list_2
        a1, a2 = j(args[0]), j(args[1])
        return _tokens(
            f"zip_with({a1}, {a2}, (x, y) -> "
            f"named_struct('list_1', x, 'list_2', y))"
        )
    if low == "list_any_value" and len(args) == 1:
        return _tokens(
            f"element_at(filter({j(args[0])}, x -> x IS NOT NULL), 1)"
        )
    if low == "list_where" and len(args) == 2:
        l_, m_ = j(args[0]), j(args[1])
        return _tokens(
            f"transform(filter(zip_with({l_}, {m_}, "
            f"(x, m) -> named_struct('x', x, 'm', m)), s -> s.m), s -> s.x)"
        )
    if low == "list_select" and len(args) == 2:
        return _tokens(
            f"transform({j(args[1])}, i -> element_at({j(args[0])}, CAST(i AS INT)))"
        )
    if low in ("string_split", "str_split", "string_to_array") and len(args) == 2:
        # DuckDB splits on the LITERAL separator; Spark split() is regex —
        # \Q...\E-quote the separator so '.' and '|' behave. Empty
        # separator splits to characters with no trailing empty (Spark's
        # default limit does exactly that).
        # single backslash here: _escape_spark_literal doubles it at emit
        if _is_string(args[1][0]) and _str_val(args[1][0]) == "" and len(args[1]) == 1:
            return _tokens(f"split({j(args[0])}, '')")
        return _tokens(
            f"split({j(args[0])}, concat('\\Q', {j(args[1])}, '\\E'), -1)"
        )
    if low == "list_unique" and len(args) == 1:
        # count of distinct non-NULL elements (verified vs DuckDB)
        return _tokens(
            f"size(array_distinct(filter({j(args[0])}, x -> x IS NOT NULL)))"
        )
    if low == "list_reverse_sort" and len(args) == 1:
        return _tokens(f"sort_array({j(args[0])}, false)")
    if low == "array_slice" and len(args) == 3:
        a1, a2, a3 = j(args[0]), j(args[1]), j(args[2])
        return _tokens(f"slice({a1}, {a2}, ({a3}) - ({a2}) + 1)")
    if low == "editdist3":
        return _tokens(f"levenshtein({', '.join(j(a) for a in args)})")
    if low in ("printf",) and args and _is_string(args[0][0]) and len(args[0]) == 1:
        # cast each vararg to the type its conversion demands — Spark's
        # format_string rejects DECIMAL for %f and DOUBLE for %d
        fmt = _str_val(args[0][0])
        convs = re.findall(r"%[-+ 0#']*\d*(?:\.\d+)?([sdifeEgGxXo])", fmt)
        casted = []
        for k, a in enumerate(args[1:]):
            c = convs[k] if k < len(convs) else "s"
            if c in "feEgG":
                casted.append(f"CAST({j(a)} AS DOUBLE)")
            elif c in "dixXo":
                casted.append(f"CAST({j(a)} AS BIGINT)")
            else:
                casted.append(j(a))
        return _tokens(
            f"format_string({j(args[0])}{''.join(', ' + c for c in casted)})"
        )
    if low == "json_extract_string" and len(args) == 2:
        p = args[1]
        if args[0] and args[0][0].lower() in ("named_struct", "map", "struct"):
            # a JSON-cast literal became a struct (struct_json_casts) —
            # re-serialize so get_json_object sees JSON text
            args = [_tokens(f"to_json({j(args[0])})"), p]
        if _is_string(p[0]) and len(p) == 1 and not _str_val(p[0]).startswith("$"):
            return _tokens(
                f"get_json_object({j(args[0])}, {_quote('$.' + _str_val(p[0]))})"
            )
        if p and p[0].lower() == "array" and len(p) > 1 and p[1] == "(":
            # list-of-paths overload: one extraction per path, as a LIST
            items = _split_args(p[2:-1])
            if all(len(it) == 1 and _is_string(it[0]) for it in items):
                x = j(args[0])
                parts = ", ".join(
                    f"get_json_object({x}, "
                    + (_quote("$." + _str_val(it[0]))
                       if not _str_val(it[0]).startswith("$")
                       else it[0])
                    + ")"
                    for it in items
                )
                return _tokens(f"array({parts})")
        return _tokens(f"get_json_object({j(args[0])}, {j(p)})")
    if low == "json_extract" and len(args) == 2:
        raise UnsupportedSQL(
            "json_extract returns JSON-quoted scalars; Spark's "
            "get_json_object uses text semantics — use "
            "json_extract_string / ->> instead"
        )
    if low == "list_sort" and len(args) in (2, 3) and _is_string(args[1][0]):
        direction = _str_val(args[1][0]).upper()
        nulls = (_str_val(args[2][0]).upper()
                 if len(args) == 3 and _is_string(args[2][0]) else None)
        # DuckDB's default null order is NULLS LAST in both directions;
        # Spark: sort_array(asc)=NULLS FIRST, array_sort=asc NULLS LAST,
        # sort_array(desc)=NULLS LAST
        if direction == "ASC" and nulls in (None, "NULLS LAST"):
            return _tokens(f"array_sort({j(args[0])})")
        if direction == "ASC" and nulls == "NULLS FIRST":
            return _tokens(f"sort_array({j(args[0])}, true)")
        if direction == "DESC" and nulls in (None, "NULLS LAST"):
            return _tokens(f"sort_array({j(args[0])}, false)")
        raise UnsupportedSQL(
            f"list_sort({direction}, {nulls}): needs a comparator Spark's "
            f"builtins lack"
        )
    if low == "map_extract" and len(args) == 2:
        m, k = j(args[0]), j(args[1])
        return _tokens(
            f"IF(map_contains_key({m}, {k}), "
            f"array(try_element_at({m}, {k})), array())"
        )
    if low == "extract" and args and args[0][0].lower() == "epoch":
        src = " ".join(args[0][2:])  # drop `epoch FROM`
        return _tokens(
            f"(CAST(unix_micros(CAST({src} AS TIMESTAMP)) AS DOUBLE) / 1000000)"
        )
    if (low == "extract" and args and len(args[0]) > 2
            and args[0][1].lower() == "from"):
        fixed = _date_part_fixup(
            args[0][0].lower(), " ".join(args[0][2:])
        )
        if fixed is not None:
            return _tokens(fixed)
    if low in ("array_concat", "array_cat") and len(args) == 2:
        return _tokens(f"concat({j(args[0])}, {j(args[1])})")
    if low == "array_unique" and len(args) == 1:
        return _tokens(
            f"size(array_distinct(filter({j(args[0])}, x -> x IS NOT NULL)))"
        )
    if low == "list_count" and len(args) == 1:
        return _tokens(f"size(filter({j(args[0])}, x -> x IS NOT NULL))")
    if low in ("product", "geomean", "geometric_mean") and len(args) == 1:
        raise UnsupportedSQL(
            f"{low} multiplies in DuckDB's accumulation order — Spark's "
            "exp(sum(ln(x))) form is mathematically equal but not "
            "bit-identical; write it explicitly (and round) if "
            "approximate parity is acceptable"
        )
    if low == "to_hex" and len(args) == 1:
        return _tokens(f"hex({j(args[0])})")  # both engines: uppercase
    if low == "sha256" and len(args) == 1:
        return _tokens(f"sha2({j(args[0])}, 256)")
    if low == "trunc" and len(args) == 1:
        # numeric truncation toward zero (Spark's trunc is date-only)
        x = j(args[0])
        return _tokens(
            f"(CASE WHEN ({x}) >= 0 THEN floor({x}) ELSE ceil({x}) END)"
        )
    if low == "list_grade_up" and len(args) == 1:
        l_ = j(args[0])
        return _tokens(
            f"transform(array_sort(zip_with({l_}, sequence(1, size({l_})), "
            f"(x, i) -> named_struct('v', x, 'i', i))), s -> s.i)"
        )
    if low == "list_has_any" and len(args) == 2:
        return _tokens(f"arrays_overlap({j(args[0])}, {j(args[1])})")
    if low == "list_has_all" and len(args) == 2:
        return _tokens(
            f"(size(array_except(array_distinct({j(args[1])}), {j(args[0])})) = 0)"
        )
    if low == "histogram" and len(args) == 1:
        x = j(args[0])
        return _tokens(
            f"map_from_entries(transform(array_sort(array_distinct("
            f"collect_list({x}))), v -> struct(v, "
            f"size(filter(collect_list({x}), y -> y = v)))))"
        )
    if low == "greatest_common_divisor" and len(args) == 2:
        return _tokens(f"gcd({j(args[0])}, {j(args[1])})")  # registered UDF
    if low == "least_common_multiple" and len(args) == 2:
        return _tokens(f"lcm({j(args[0])}, {j(args[1])})")  # registered UDF
    if low in ("unicode", "ord") and len(args) == 1:
        # DuckDB: codepoint of the first char, -1 for '' (NULL stays NULL)
        s = j(args[0])
        return _tokens(
            f"(CASE WHEN length({s}) = 0 THEN -1 ELSE ascii({s}) END)"
        )
    if low in (
        "list_dot_product",
        "list_inner_product",
        "array_dot_product",
        "array_inner_product",
    ) and len(args) == 2:
        return _tokens(_dot_sql(j(args[0]), j(args[1])))
    if low in ("list_cosine_similarity", "array_cosine_similarity") and len(args) == 2:
        a, b = j(args[0]), j(args[1])
        return _tokens(
            f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
        )
    if low in ("list_distance", "array_distance") and len(args) == 2:
        a, b = j(args[0]), j(args[1])
        diff = (
            f"zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
            f"* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"
        )
        return _tokens(
            f"sqrt(aggregate({diff}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
        )
    if low in ("list_cross_product", "array_cross_product") and len(args) == 2:
        a, b = j(args[0]), j(args[1])
        e = lambda v, i: f"CAST(element_at({v}, {i}) AS DOUBLE)"  # noqa: E731
        return _tokens(
            f"array({e(a,2)} * {e(b,3)} - {e(a,3)} * {e(b,2)}, "
            f"{e(a,3)} * {e(b,1)} - {e(a,1)} * {e(b,3)}, "
            f"{e(a,1)} * {e(b,2)} - {e(a,2)} * {e(b,1)})"
        )
    if low == "format_bytes" and len(args) == 1:
        return _tokens(_format_bytes_sql(j(args[0])))
    if low == "to_base" and len(args) == 2:
        return _tokens(f"conv({j(args[0])}, 10, {j(args[1])})")
    if low in ("hamming", "mismatches") and len(args) == 2:
        a1, a2 = j(args[0]), j(args[1])
        return _tokens(
            f"aggregate(zip_with(split({a1}, ''), split({a2}, ''), "
            f"(x, y) -> CAST(x != y AS INT)), 0, (acc, x) -> acc + x)"
        )
    if low in ("left", "right") and len(args) == 2:
        # DuckDB: negative n drops |n| chars from the other end; Spark
        # returns '' — emit the dual form
        s, n = j(args[0]), j(args[1])
        if low == "left":
            neg = f"substring({s}, 1, greatest(length({s}) + ({n}), 0))"
        else:
            neg = f"substring({s}, least(-({n}), length({s})) + 1)"
        return _tokens(
            f"(CASE WHEN ({n}) >= 0 THEN {low}({s}, {n}) ELSE {neg} END)"
        )
    if low == "format" and args and _is_string(args[0][0]) and len(args[0]) == 1:
        # fmt-style '{}' / '{0}' templates, literal format strings only;
        # format specs ({:.2f}, {:d}, {:5}) translate to printf-style
        fmt = _str_val(args[0][0])
        if re.search(r"\{\d*:[^}]*\}", fmt):
            casts = {"d": "BIGINT", "x": "BIGINT", "f": "DOUBLE",
                     "e": "DOUBLE", "E": "DOUBLE", "g": "DOUBLE",
                     "G": "DOUBLE"}
            out_fmt: list[str] = []
            cast_args: list[str] = []
            auto = 0
            pos = 0
            for m in re.finditer(r"\{(\d*)(?::([^}]*))?\}", fmt):
                out_fmt.append(m.string[pos : m.start()].replace("%", "%%"))
                pos = m.end()
                argno = int(m.group(1)) if m.group(1) else auto
                if not m.group(1):
                    auto += 1
                if argno + 1 >= len(args):
                    raise UnsupportedSQL("format: missing argument")
                spec = m.group(2) or ""
                if not re.fullmatch(r"[-+ 0-9.]*[dfeEgGsx]?", spec):
                    raise UnsupportedSQL(f"format spec {{:{spec}}}")
                conv = spec[-1] if spec and spec[-1].isalpha() else "s"
                body = spec[:-1] if spec and spec[-1].isalpha() else spec
                out_fmt.append(f"%{body}{conv}")
                a = j(args[argno + 1])
                cast_args.append(
                    f"CAST({a} AS {casts[conv]})" if conv in casts else a
                )
            out_fmt.append(fmt[pos:].replace("%", "%%"))
            return _tokens(
                f"format_string({_quote(''.join(out_fmt))},"
                f" {', '.join(cast_args)})"
            )
        parts = re.split(r"\{(\d*)\}", fmt)
        pieces: list[str] = []
        auto = 0
        for idx, piece in enumerate(parts):
            if idx % 2 == 0:
                if piece:
                    pieces.append(_quote(piece))
            else:
                argno = int(piece) if piece else auto
                if not piece:
                    auto += 1
                if argno + 1 >= len(args):
                    raise UnsupportedSQL(f"format: missing argument {{{piece}}}")
                pieces.append(f"CAST({j(args[argno + 1])} AS STRING)")
        return _tokens(f"concat({', '.join(pieces) or _quote('')})")
    if low == "format":
        raise UnsupportedSQL("format() supports literal format strings only")
    if low == "md5_number":
        raise UnsupportedSQL(
            "md5_number returns a 128-bit HUGEINT with no Spark carrier — "
            "use md5_number_lower/md5_number_upper"
        )
    if low in ("md5_number_lower", "md5_number_upper") and len(args) == 1:
        # DuckDB: little-endian uint64 of the digest's second (lower) /
        # first (upper) 8 bytes; reverse the byte pairs then conv. Result
        # can exceed BIGINT → DECIMAL(20,0) carrier.
        off = 17 if low.endswith("lower") else 1
        h = f"md5({j(args[0])})"
        rev = ", ".join(
            f"substring({h}, {off + 2 * k}, 2)" for k in range(7, -1, -1)
        )
        return _tokens(f"CAST(conv(concat({rev}), 16, 10) AS DECIMAL(20,0))")
    if low == "unicode" and len(args) == 1:
        # DuckDB: codepoint of first char, -1 for '' (NULL passes through)
        s = j(args[0])
        return _tokens(f"(CASE WHEN ({s}) = '' THEN -1 ELSE ascii({s}) END)")
    if low == "to_json" and len(args) == 1:
        # DuckDB renders NULL struct fields; Spark drops them by default
        return _tokens(f"to_json({j(args[0])}, map('ignoreNullFields', 'false'))")
    if low == "get_bit" and len(args) == 2:
        # BIT carrier is the '0'/'1' string (duckdb-6.cpp:6030): index is
        # 0-based from the left, substring is 1-based
        return _tokens(
            f"CAST(substring({j(args[0])}, ({j(args[1])}) + 1, 1) AS INT)"
        )
    if low == "set_bit" and len(args) == 3:
        b, i_, v = j(args[0]), j(args[1]), j(args[2])
        return _tokens(
            f"CONCAT(substring({b}, 1, ({i_})), CAST(({v}) AS STRING), "
            f"substring({b}, ({i_}) + 2))"
        )
    if low == "bit_position":
        # DuckDB scans with byte-alignment effects (needle padded into its
        # own byte): '01' in '00100101' → 7, not the string-search 2.
        # No faithful string-carrier form — refuse rather than drift.
        raise UnsupportedSQL(
            "bit_position: BIT byte-alignment semantics have no string-"
            "carrier equivalent (use instr on the '0'/'1' form explicitly)"
        )
    if low == "quantile_disc":
        return _tokens(f"percentile_approx({j(args[0])}, {j(args[1])}, 1000000)")
    if low == "sem":
        x = j(args[0])
        return _tokens(f"(stddev_pop({x}) / sqrt(count({x})))")
    if low == "skewness":
        # DuckDB is the bias-corrected sample G1 (functions/compat.duck_skewness)
        x = j(args[0])
        return _tokens(
            f"(skewness({x}) * sqrt(count({x}) * (count({x}) - 1))"
            f" / (count({x}) - 2))"
        )
    if low == "kurtosis":
        x = j(args[0])
        return _tokens(
            f"(((count({x}) + 1) * kurtosis({x}) + 6) * (count({x}) - 1)"
            f" / ((count({x}) - 2) * (count({x}) - 3)))"
        )
    if low == "isinf":
        x = j(args[0])
        return _tokens(
            f"(abs(CAST(({x}) AS DOUBLE)) = CAST('Infinity' AS DOUBLE))"
        )
    if low == "isfinite":
        x = j(args[0])
        return _tokens(
            f"(NOT isnan(CAST(({x}) AS DOUBLE)) AND"
            f" abs(CAST(({x}) AS DOUBLE)) <> CAST('Infinity' AS DOUBLE))"
        )
    if low == "even":
        x = j(args[0])
        return _tokens(f"CAST(sign(({x})) * 2 * ceil(abs(({x})) / 2) AS DOUBLE)")
    if low == "bar":
        if len(args) == 3:  # reference default width (oracle-verified: 80)
            args = args + [["80"]]
        x, mn, mx, w = (j(a) for a in args)
        frac = f"least(greatest((({x}) - ({mn})) / (({mx}) - ({mn})), 0.0), 1.0)"
        nfull = f"CAST(floor({frac} * ({w})) AS INT)"
        pad = f"CAST(greatest(({w}) - {nfull} * 3, 0) AS INT)"
        return _tokens(f"concat(repeat('█', {nfull}), repeat(' ', {pad}))")
    if low == "strip_accents":
        from quackspark.functions.compat import _ACCENTS_FROM, _ACCENTS_TO

        return _tokens(
            f"translate({j(args[0])}, {_quote(_ACCENTS_FROM)}, {_quote(_ACCENTS_TO)})"
        )
    if low in ("gamma", "lgamma"):
        # real-valued Γ via the Arrow-batched math.gamma/lgamma kernel
        # (session.py qs_gamma/qs_lgamma — libm, same as the reference's
        # call). The old factorial composition was integer-only and
        # silently wrong for fractional inputs (r12 fn-surface sweep).
        return _tokens(f"qs_{low}(CAST(({j(args[0])}) AS DOUBLE))")
    # --- r12 function-surface sweep batch (tools/fn_surface_sweep.py) ---
    if low in ("arg_max", "argmax", "max_by",
               "arg_min", "argmin", "min_by") and len(args) == 2:
        # DuckDB arg_max/max_by SKIP rows whose value is NULL (oracle:
        # arg_max(v,k) over {(1,'a'),(5,NULL),(3,'c')} = 'c'); Spark's
        # max_by keeps them — NULL the key when the value is NULL so
        # those rows can't win (max_by ignores NULL keys)
        fn = "max_by" if low in ("arg_max", "argmax", "max_by") else "min_by"
        v, k = j(args[0]), j(args[1])
        return _tokens(
            f"{fn}({v}, CASE WHEN ({v}) IS NULL THEN NULL ELSE ({k}) END)"
        )
    if low in ("arg_max_null", "arg_min_null") and len(args) == 2:
        # the keep-NULL-values variants ARE Spark's max_by/min_by
        fn = "max_by" if low == "arg_max_null" else "min_by"
        return _tokens(f"{fn}({j(args[0])}, {j(args[1])})")
    if low == "bitstring_agg" and len(args) in (1, 3):
        # BIT carrier aggregation (reference duckdb-6.cpp bitstring_agg):
        # one bit per integer in [lo, hi] (min..max of the group when no
        # bounds), set where the value occurs — a collect_set bounded by
        # the span, no per-row state
        x = f"CAST(({j(args[0])}) AS BIGINT)"
        lo = (f"CAST(({j(args[1])}) AS BIGINT)" if len(args) == 3
              else f"min({x})")
        hi = (f"CAST(({j(args[2])}) AS BIGINT)" if len(args) == 3
              else f"max({x})")
        return _tokens(
            f"array_join(transform(sequence({lo}, {hi}), qs_i -> "
            f"CASE WHEN array_contains(collect_set({x}), qs_i) "
            f"THEN '1' ELSE '0' END), '')"
        )
    if low == "entropy" and len(args) == 1:
        # Shannon entropy (log2) of the value distribution, NULLs
        # excluded, 0.0 for an empty/all-NULL group (oracle-verified).
        # log2(n) - Σ c·log2(c)/n over per-value counts; the count pass
        # runs on a collected group list (bounded by group size — the
        # reference's hash is bounded by distinct count; for huge groups
        # pre-aggregate counts with GROUP BY instead)
        x = j(args[0])
        L = f"collect_list(CAST(({x}) AS STRING))"
        n = f"size({L})"
        counts = (f"transform(array_distinct({L}), "
                  f"qs_d -> size(filter({L}, qs_e -> qs_e = qs_d)))")
        s = (f"aggregate({counts}, CAST(0 AS DOUBLE), "
             f"(qs_a, qs_c) -> qs_a + qs_c * log2(qs_c))")
        return _tokens(
            f"(CASE WHEN {n} = 0 THEN CAST(0 AS DOUBLE) "
            f"ELSE log2({n}) - {s} / {n} END)"
        )
    if low in ("add", "subtract") and len(args) == 1:
        # unary overloads: add(x) = +x, subtract(x) = -x (the 2-arg
        # operator forms are in _emit_call)
        return _tokens(f"({'-' if low == 'subtract' else ''}({j(args[0])}))")
    if low == "timezone" and len(args) == 1:
        # offset-seconds extraction — 0 under the UTC-pinned session (the
        # timezone_hour/timezone_minute convention in _emit_call)
        return _tokens("CAST(0 AS BIGINT)")
    if low == "era" and len(args) == 1:
        # 1 = AD/CE, 0 = BC/BCE (proleptic year <= 0)
        return _tokens(
            f"(CASE WHEN year({j(args[0])}) > 0 THEN 1 ELSE 0 END)"
        )
    if low in ("greatest", "least") and len(args) == 1:
        # DuckDB binds the 1-arg form (identity); Spark requires >= 2
        return _tokens(f"({j(args[0])})")
    if (low in ("list_element", "list_extract", "array_extract")
            and len(args) == 2 and len(args[0]) == 1
            and _is_string(args[0][0])):
        # VARCHAR overload: 1-based character pick, '' out of range,
        # negative from the end (duck: list_element('abc', -1) = 'c');
        # index 0 is '' in DuckDB but Spark's substr treats 0 as 1
        # (found by fuzz seed 20260823)
        idx = j(args[1])
        return _tokens(
            f"(CASE WHEN ({idx}) = 0 THEN '' "
            f"ELSE substr({args[0][0]}, {idx}, 1) END)"
        )
    if low == "timezone" and len(args) == 2:
        # function spelling of AT TIME ZONE (same dispatch convention as
        # _rewrite_at_time_zone): NTZ input → instant (to_utc); an input
        # that is already an instant-producing conversion (to_utc / the
        # from_utc identity the TIMESTAMPTZ literal pass emits) → wall
        # clock in tz (from_utc)
        head = next((t.lower() for t in args[1] if t != "("), "")
        fn = (
            "from_utc_timestamp"
            if head in ("to_utc_timestamp", "from_utc_timestamp")
            else "to_utc_timestamp"
        )
        return _tokens(f"{fn}({j(args[1])}, {j(args[0])})")
    if low == "make_timestamp" and len(args) == 1:
        # single-arg overload: µs since epoch (duckdb-5.cpp MakeTimestamp)
        return _tokens(f"timestamp_micros(CAST(({j(args[0])}) AS BIGINT))")
    if low == "make_time" and len(args) == 3:
        # TIME carrier (µs since midnight) — same physical value as the
        # CAST(x AS TIME) carrier in _rewrite_time_carriers
        h, m, s = (j(a) for a in args)
        return _tokens(
            f"(CAST(({h}) AS BIGINT) * 3600000000 + "
            f"CAST(({m}) AS BIGINT) * 60000000 + "
            f"CAST(round(({s}) * 1000000) AS BIGINT))"
        )
    if low == "json_array_length" and len(args) == 1:
        # DuckDB: 0 for any non-array JSON value, NULL only for NULL input
        x = j(args[0])
        return _tokens(
            f"CASE WHEN ({x}) IS NULL THEN NULL "
            f"ELSE coalesce(json_array_length({x}), 0) END"
        )
    if low == "json_contains" and len(args) == 2:
        return _tokens(
            f"qs_json_contains(CAST({j(args[0])} AS STRING), "
            f"CAST({j(args[1])} AS STRING))"
        )
    if low in ("to_binary", "from_binary", "bin"):
        if low == "from_binary" and len(args) == 1:
            # '0'/'1' bitstring → BLOB, 8 bits per byte
            x = j(args[0])
            return _tokens(
                f"unhex(CASE WHEN length({x}) < 8 THEN '' ELSE "
                f"array_join(transform(sequence(1, length({x}) div 8), "
                f"qs_i -> lpad(conv(substring({x}, (qs_i - 1) * 8 + 1, 8), "
                f"2, 16), 2, '0')), '') END)"
            )
        if low in ("to_binary", "bin") and len(args) == 1 and args[0] \
                and _is_string(args[0][0]) and len(args[0]) == 1:
            # string input → the bitstring of its bytes (DuckDB binds the
            # VARCHAR overload of bin/to_binary); numeric inputs keep
            # Spark's bin. Only literal strings are statically typed here.
            x = f"CAST({args[0][0]} AS BINARY)"
            return _tokens(
                f"CASE WHEN octet_length({x}) = 0 THEN '' ELSE "
                f"array_join(transform(sequence(1, octet_length({x})), "
                f"qs_i -> lpad(conv(hex(substring({x}, qs_i, 1)), 16, 2), "
                f"8, '0')), '') END"
            )
        if low == "to_binary":
            return _tokens(f"bin({j(args[0])})")
        return None  # plain bin: fall through to passthrough
    if low in ("stats", "vector_type", "json_serialize_sql",
               "json_serialize_plan", "json_deserialize_sql",
               "timetz_byte_comparable", "unpivot_list"):
        raise UnsupportedSQL(
            f"{low}: engine-introspection/debug function with no Spark "
            "analog (reference duckdb-6.cpp function catalog)"
        )
    if low == "__qs_bitlen" and len(args) == 1:
        return _tokens(f"length({j(args[0])})")
    if low == "__qs_bitcount" and len(args) == 1:
        return _tokens(
            f"CAST(length(regexp_replace({j(args[0])}, '0', '')) AS BIGINT)"
        )
    if low == "__qs_bitoctet" and len(args) == 1:
        return _tokens(
            f"CAST(ceil(length({j(args[0])}) / 8.0) AS BIGINT)"
        )
    if low.startswith("__qs_time_") and len(args) == 1:
        c = f"({j(args[0])})"
        unit = low[len("__qs_time_"):]
        forms = {
            "hour": f"CAST(floor({c} / 3600000000) AS BIGINT)",
            "minute": f"CAST(floor({c} / 60000000) % 60 AS BIGINT)",
            "second": f"CAST(floor({c} / 1000000) % 60 AS BIGINT)",
            "millisecond": f"CAST(floor({c} % 60000000 / 1000) AS BIGINT)",
            "microsecond": f"CAST({c} % 60000000 AS BIGINT)",
        }
        if unit in forms:
            return _tokens(forms[unit])
        raise UnsupportedSQL(f"TIME extraction {unit} unsupported")
    if low == "xor":
        return _tokens(f"(({j(args[0])}) ^ ({j(args[1])}))")
    if low == "dayofweek":
        # DuckDB dow: Sunday=0..Saturday=6; Spark: Sunday=1..Saturday=7
        return _tokens(f"(dayofweek({j(args[0])}) - 1)")
    if low == "isodow":
        return _tokens(f"(((dayofweek({j(args[0])}) + 5) % 7) + 1)")
    if low == "yearweek":
        x = j(args[0])
        return _tokens(
            f"(CAST(extract(YEAROFWEEK FROM ({x})) AS BIGINT) * 100"
            f" + weekofyear({x}))"
        )
    if low in _TO_INTERVAL_UNITS:
        pos, mult = _TO_INTERVAL_UNITS[low]
        zeros = ["0"] * 7
        expr = f"({j(args[0])})" + (f" * {mult}" if mult != 1 else "")
        if pos == 6 and isinstance(mult, float):
            # sub-second units land in the DECIMAL seconds slot
            zeros[pos] = f"CAST({expr} AS DECIMAL(18,6))"
        else:
            zeros[pos] = f"CAST({expr} AS INT)"
        return _tokens(f"make_interval({', '.join(zeros)})")
    if low in ("date_diff", "datediff") and len(args) == 3 and _is_string(args[0][0]):
        unit = _str_val(args[0][0]).lower()
        a, b = j(args[1]), j(args[2])
        if unit in ("day", "days", "d"):
            return _tokens(f"datediff(CAST(({b}) AS DATE), CAST(({a}) AS DATE))")
        if unit in ("week", "weeks", "w"):
            # week-boundary crossings (DuckDB counts truncated weeks)
            return _tokens(
                f"CAST(datediff(date_trunc('week', CAST(({b}) AS DATE)), "
                f"date_trunc('week', CAST(({a}) AS DATE))) / 7 AS BIGINT)"
            )
        if unit in ("quarter", "quarters"):
            return _tokens(
                f"((year({b}) - year({a})) * 4 + (quarter({b}) - quarter({a})))"
            )
        if unit in ("month", "months", "mon"):
            return _tokens(
                f"((year({b}) - year({a})) * 12 + (month({b}) - month({a})))"
            )
        if unit in ("year", "years", "y"):
            return _tokens(f"(year({b}) - year({a}))")
        if unit in ("hour", "hours", "minute", "minutes", "second", "seconds"):
            per = {"h": 3600_000_000, "m": 60_000_000, "s": 1_000_000}[unit[0]]
            return _tokens(
                f"CAST(floor(unix_micros(CAST(({b}) AS TIMESTAMP)) / {per}) - "
                f"floor(unix_micros(CAST(({a}) AS TIMESTAMP)) / {per}) AS BIGINT)"
            )
        if unit in ("millisecond", "milliseconds", "ms"):
            return _tokens(
                f"((unix_micros(CAST(({b}) AS TIMESTAMP)) - "
                f"unix_micros(CAST(({a}) AS TIMESTAMP))) div 1000)"
            )
        if unit in ("microsecond", "microseconds", "us"):
            return _tokens(
                f"(unix_micros(CAST(({b}) AS TIMESTAMP)) - "
                f"unix_micros(CAST(({a}) AS TIMESTAMP)))"
            )
        raise UnsupportedSQL(f"date_diff unit {unit!r}")
    if low in ("date_sub", "datesub") and len(args) == 3 and _is_string(args[0][0]):
        # complete-unit count (vs date_diff's boundary crossings) —
        # Spark's timestampdiff counts complete units too
        unit = _str_val(args[0][0]).lower().rstrip("s").upper()
        if unit not in ("YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
                        "HOUR", "MINUTE", "SECOND"):
            raise UnsupportedSQL(f"date_sub unit {unit!r}")
        return _tokens(
            f"timestampdiff({unit}, CAST(({j(args[1])}) AS TIMESTAMP), "
            f"CAST(({j(args[2])}) AS TIMESTAMP))"
        )
    if low == "isoyear" and len(args) == 1:
        return _tokens(f"extract(YEAROFWEEK FROM {j(args[0])})")
    if low == "row":
        # DuckDB row() builds an UNNAMED struct (fields serialize with
        # empty names and are not addressable); Spark structs need names —
        # v1..vN, the names DuckDB docs use for unnamed fields. Values are
        # identical; only the unobservable names differ.
        fields = ", ".join(
            f"'v{k + 1}', ({j(a)})" for k, a in enumerate(args)
        )
        return _tokens(f"named_struct({fields})")
    if low == "struct_insert":
        raise UnsupportedSQL(
            "struct_insert — rebuild the struct with named_struct/struct_pack"
        )
    if low == "age" and len(args) in (1, 2):
        # Postgres/DuckDB age(a, b): field-wise later-minus-earlier with
        # day borrow from the earlier month (functions/compat.age_parts);
        # the 1-arg form diffs against current_date (r12 fn sweep).
        # Emitted as a marker struct that date_part() below projects.
        if len(args) == 2:
            A = f"CAST(({j(args[0])}) AS DATE)"
            B = f"CAST(({j(args[1])}) AS DATE)"
        else:  # age(x) = age(current_date, x)
            A = "current_date()"
            B = f"CAST(({j(args[0])}) AS DATE)"
        E, S = f"greatest({A}, {B})", f"least({A}, {B})"
        sign = f"(CASE WHEN {A} >= {B} THEN 1 ELSE -1 END)"
        d_raw = f"(day({E}) - day({S}))"
        d_borrow = f"(CASE WHEN {d_raw} < 0 THEN 1 ELSE 0 END)"
        d = f"({d_raw} + {d_borrow} * day(last_day({S})))"
        m_raw = f"(month({E}) - month({S}) - {d_borrow})"
        m_borrow = f"(CASE WHEN {m_raw} < 0 THEN 1 ELSE 0 END)"
        m = f"({m_raw} + {m_borrow} * 12)"
        y = f"(year({E}) - year({S}) - {m_borrow})"
        return _tokens(
            f"named_struct('qs_age_y', {sign} * {y}, 'qs_age_m', {sign} * {m},"
            f" 'qs_age_d', {sign} * {d})"
        )
    if low in ("date_part", "datepart") and len(args) == 2 and _is_string(args[0][0]):
        if _str_val(args[0][0]).lower() in (
            "timezone", "timezone_hour", "timezone_minute"
        ):
            # honest typed refusal (r10 — r9's TIMETZ cast support let
            # these fall through to an opaque INVALID_EXTRACT_FIELD):
            # extracting an offset needs the input's TYPE — a TIMETZ
            # rides the struct<micros,offset_s> carrier (read .offset_s
            # directly); a TIMESTAMPTZ in the UTC-pinned session is
            # always offset 0 — and a token rewriter can't dispatch
            # between them in one analyzable expression
            raise UnsupportedSQL(
                "date_part('timezone…', x): offset extraction is"
                " type-dependent — read the TIMETZ carrier's .offset_s"
                " field directly, or use 0 for TIMESTAMPTZ (UTC session)"
            )
        if args[1][:2] == ["named_struct", "("] and args[1][2] == "'qs_age_y'":
            field = {"year": "qs_age_y", "month": "qs_age_m", "day": "qs_age_d"}.get(
                _str_val(args[0][0]).lower()
            )
            if field is None:
                raise UnsupportedSQL("date_part over age(): year/month/day only")
            return _tokens(f"({j(args[1])}).{field}")
        fixed = _date_part_fixup(_str_val(args[0][0]).lower(), j(args[1]))
        if fixed is not None:
            return _tokens(fixed)
        return None
    if (low in ("date_part", "datepart") and len(args) >= 2
            and args[0][:2] == ["array", "("]):
        # list form: date_part(['year','month'], x) → struct of parts.
        # The arg splitter may have cut the array literal's commas into
        # extra top-level args — reassemble.
        flat = args[0] + [t for a in args[1:-1] for t in ([","] + a)]
        close = flat and _find_call_end(flat, 1)
        units = [_str_val(t) for t in flat[2:close] if _is_string(t)]
        x = j(args[-1])
        if units:
            fields = ", ".join(
                f"'{u}', ({_date_part_fixup(u.lower(), x) or _dp(u, x)})"
                for u in units
            )
            return _tokens(f"named_struct({fields})")
    if low == "regexp_extract_all" and len(args) == 2:
        # DuckDB default = whole-match (group 0); Spark default = group 1
        return _tokens(f"regexp_extract_all({j(args[0])}, {j(args[1])}, 0)")
    if low == "regexp_extract" and len(args) == 2:
        # same group-0 default (Spark's group-1 default also ERRORS on
        # group-less patterns)
        return _tokens(f"regexp_extract({j(args[0])}, {j(args[1])}, 0)")
    if low == "list_prepend" and len(args) == 2:
        # DuckDB list_prepend(elem, list) ↔ Spark array_prepend(list, elem)
        return _tokens(f"array_prepend(({j(args[1])}), ({j(args[0])}))")
    if low == "struct_extract" and len(args) == 2 and _is_string(args[1][0]):
        return _tokens(f"(({j(args[0])}).{_str_val(args[1][0])})")
    if low == "list_reduce" and len(args) == 2:
        l = j(args[0])
        return _tokens(
            f"aggregate(slice(({l}), 2, size(({l})) - 1),"
            f" element_at(({l}), 1), {j(args[1])})"
        )
    if low == "constant_or_null" and len(args) == 2:
        return _tokens(
            f"(CASE WHEN ({j(args[1])}) IS NULL THEN NULL ELSE ({j(args[0])}) END)"
        )
    if low == "typeof":
        x = j(args[0])
        return _tokens(
            f"(CASE typeof({x}) WHEN 'int' THEN 'INTEGER'"
            f" WHEN 'string' THEN 'VARCHAR' WHEN 'bigint' THEN 'BIGINT'"
            f" WHEN 'smallint' THEN 'SMALLINT' WHEN 'tinyint' THEN 'TINYINT'"
            f" WHEN 'double' THEN 'DOUBLE' WHEN 'float' THEN 'FLOAT'"
            f" WHEN 'boolean' THEN 'BOOLEAN' WHEN 'date' THEN 'DATE'"
            f" WHEN 'timestamp' THEN 'TIMESTAMP' WHEN 'binary' THEN 'BLOB'"
            f" ELSE upper(typeof({x})) END)"
        )
    if low == "encode" and len(args) == 1:
        return _tokens(f"CAST(({j(args[0])}) AS BINARY)")
    if low == "decode" and len(args) == 1:
        return _tokens(f"CAST(({j(args[0])}) AS STRING)")
    if low == "chr":
        # DuckDB chr = Unicode codepoint; Spark chr is byte-modulo ASCII —
        # round-trip the codepoint through UTF-32
        return _tokens(
            f"decode(unhex(lpad(hex(CAST(({j(args[0])}) AS INT)), 8, '0')),"
            f" 'UTF-32')"
        )
    if low == "decade":
        return _tokens(f"CAST(floor(year({j(args[0])}) / 10) AS BIGINT)")
    if low == "century":
        return _tokens(f"CAST(ceil(year({j(args[0])}) / 100.0) AS BIGINT)")
    if low == "json_valid":
        x = j(args[0])
        return _tokens(
            f"(CASE WHEN ({x}) IS NULL THEN CAST(NULL AS BOOLEAN)"
            f" WHEN try_parse_json({x}) IS NOT NULL THEN TRUE ELSE FALSE END)"
        )
    if low == "range__tvf":
        return _tokens(f"range({', '.join(j(a) for a in args)})")
    if (low in ("range", "generate_series") and len(args) == 3
            and any(t.lower() in ("interval", "date", "timestamp")
                    for a in args for t in a)):
        # temporal series: Spark sequence() is end-inclusive like
        # generate_series; range is end-exclusive → filter the endpoint
        a, b, s = j(args[0]), j(args[1]), j(args[2])
        seq = f"sequence(({a}), ({b}), ({s}))"
        if low == "range":
            seq = f"filter({seq}, x -> x < ({b}))"
        # DuckDB's temporal series always carries TIMESTAMP elements,
        # even for DATE endpoints
        return _tokens(f"transform({seq}, x -> CAST(x AS TIMESTAMP))")
    if low == "date_trunc" and args and _is_string(args[0][0]) and _str_val(
            args[0][0]).lower() in (
            "millennium", "century", "decade", "year", "isoyear", "quarter",
            "month", "week", "day"):
        # day-or-coarser parts return DATE in DuckDB (any input type);
        # Spark's date_trunc always returns TIMESTAMP
        return _tokens(
            f"CAST(date_trunc({args[0][0]}, {j(args[1])}) AS DATE)"
        )
    if low in ("range", "generate_series") and 1 <= len(args) <= 3:
        if len(args) == 1:
            a, b, s = "0", j(args[0]), None
        elif len(args) == 2:
            a, b, s = j(args[0]), j(args[1]), None
        else:
            a, b, s = j(args[0]), j(args[1]), j(args[2])
        if low == "range":  # end-exclusive
            if s is None:
                return _tokens(
                    f"slice(sequence(({a}), greatest(({b}) - 1, ({a}))), 1,"
                    f" greatest(CAST(({b}) - ({a}) AS INT), 0))"
                )
            return _tokens(
                f"slice(sequence(({a}), greatest(({b}) - 1, ({a})), ({s})), 1,"
                f" greatest(CAST(ceil((({b}) - ({a})) / CAST(({s}) AS DOUBLE))"
                f" AS INT), 0))"
            )
        if s is None:  # generate_series: end-inclusive
            return _tokens(
                f"slice(sequence(({a}), greatest(({b}), ({a}))), 1,"
                f" greatest(CAST(({b}) - ({a}) + 1 AS INT), 0))"
            )
        return _tokens(
            f"slice(sequence(({a}), greatest(({b}), ({a})), ({s})), 1,"
            f" greatest(CAST(floor((({b}) - ({a})) / CAST(({s}) AS DOUBLE))"
            f" AS INT) + 1, 0))"
        )
    return None


_FROM_STOP_KW = frozenset(
    "where group having order limit qualify window union except intersect "
    "offset using on join left right full inner cross natural asof "
    "positional lateral tablesample semi anti as".split()
)


def _cte_shadow_names(toks: list[str]) -> frozenset[str]:
    """Lower-cased names defined by any WITH clause in the statement
    (conservatively also catches WINDOW definitions — harmless, the only
    consumer falls back to a column-set-preserving form).  Shapes matched:
    ``name AS (`` and the column-list form ``name ( … ) AS (`` preceded by
    WITH / RECURSIVE / a comma.  Used to refuse static catalog-schema
    resolution when a CTE shadows a table of the same name (ADVICE r12:
    ``WITH nation AS (…) SELECT * REPLACE … FROM nation`` must not expand
    against the catalog ``nation``'s ordinals)."""
    if not any(t.lower() == "with" for t in toks):
        return frozenset()
    names: set[str] = set()
    for k, t in enumerate(toks):
        if not _IDENT.match(t) or t.lower() in _FROM_STOP_KW:
            continue
        nxt = toks[k + 1] if k + 1 < len(toks) else ""
        if nxt.lower() == "as" and k + 2 < len(toks) and toks[k + 2] == "(":
            names.add(t.lower())
        elif (
            nxt == "("
            and k > 0
            and toks[k - 1].lower() in ("with", "recursive", ",")
        ):
            close = _find_call_end(toks, k + 1)
            if (
                close + 2 < len(toks)
                and toks[close + 1].lower() == "as"
                and toks[close + 2] == "("
            ):
                names.add(t.lower())
    return frozenset(names)


def _star_source_columns(
    toks: list[str], pos: int, qual: str | None, spark: SparkSession | None
) -> list[str] | None:
    """Resolve the column list a ``*`` at a select item expands to, when the
    query block's FROM is a single plain table/view (the same shape the
    COLUMNS() expansion resolves).  ``pos`` is the first token after the
    star's modifiers; scan forward at the star's own paren depth for FROM.
    Returns None whenever the source is not statically resolvable (joins,
    subqueries, CTE names, table functions) — callers fall back to a
    column-set-preserving rewrite."""
    if spark is None:
        return None
    d = 0
    k = pos
    from_pos = None
    while k < len(toks):
        t = toks[k]
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
            if d < 0:
                return None
        elif d == 0:
            tl = t.lower()
            if tl == "from":
                from_pos = k
                break
            if tl in ("union", "intersect", ";") or (
                tl == "except" and toks[k - 1] != "*"
            ):
                return None
        k += 1
    if from_pos is None:
        return None
    k = from_pos + 1
    if k >= len(toks) or not _IDENT.match(toks[k]) or toks[k].lower() in _FROM_STOP_KW:
        return None
    table = toks[k]
    k += 1
    alias = None
    if k < len(toks) and toks[k].lower() == "as":
        k += 1
        if k < len(toks) and _IDENT.match(toks[k]):
            alias = toks[k]
            k += 1
        else:
            return None
    elif k < len(toks) and _IDENT.match(toks[k]) and toks[k].lower() not in _FROM_STOP_KW:
        alias = toks[k]
        k += 1
    # single-relation FROM only: the next token at this depth must close
    # the block or start a clause — a join/comma means * spans >1 relation
    if k < len(toks):
        nl = toks[k].lower()
        if toks[k] != ")" and nl not in (
            "where", "group", "having", "order", "limit", "qualify",
            "window", "union", "except", "intersect", "offset", ";",
        ):
            return None
    if qual is not None and qual.lower() not in (
        table.lower(), (alias or "").lower(),
    ):
        return None
    if table.lower() in _cte_shadow_names(toks):
        # a CTE shadows (or is) this name — the catalog schema would give
        # the wrong ordinals (ADVICE r12); fall back to the EXCEPT form
        return None
    try:
        return spark.table(table).columns
    except Exception:
        return None


def _bq(name: str) -> str:
    """Token for a column name — backquoted unless a plain identifier."""
    return name if _IDENT.match(name) else "`" + name.replace("`", "``") + "`"


def _rewrite_star_modifiers(
    toks: list[str], spark: SparkSession | None = None
) -> list[str]:
    """DuckDB star modifiers (STAR expr, reference duckdb-internal.hpp
    StarExpression exclude_list/replace_list): `* EXCLUDE (cols)` → Spark
    `* EXCEPT (cols)` (position-preserving natively); `* REPLACE (expr AS
    col, …)` expands position-preservingly to an explicit column list when
    the block's FROM is a single resolvable table — DuckDB keeps the
    replaced column at its original ordinal.  Paren-less single-entry forms
    (`* EXCLUDE c`, `* REPLACE e AS c`) and qualified stars (`t.* EXCLUDE
    …`) are accepted like the reference.  When the star's source is not
    statically resolvable (joins, subqueries, CTEs), REPLACE falls back to
    `* EXCEPT (cols), expr AS col, …` — column *set* identical, ordinal
    position differs."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        qual = None
        star_at = None
        if t == "*" and i + 1 < len(toks) and toks[i + 1].lower() in (
            "exclude", "replace",
        ):
            star_at, mod_at = i, i + 1
        elif (
            _IDENT.match(t)
            and t.lower() not in _FROM_STOP_KW
            and i + 3 < len(toks)
            and toks[i + 1] == "."
            and toks[i + 2] == "*"
            and toks[i + 3].lower() in ("exclude", "replace")
        ):
            qual, star_at, mod_at = t, i, i + 3
        if star_at is None:
            out.append(t)
            i += 1
            continue
        kind = toks[mod_at].lower()
        if mod_at + 1 < len(toks) and toks[mod_at + 1] == "(":
            end = _find_call_end(toks, mod_at + 1)
            entries = _split_args(toks[mod_at + 2 : end])
            after = end + 1
        elif kind == "exclude":
            if mod_at + 1 >= len(toks) or not _IDENT.match(toks[mod_at + 1]):
                raise UnsupportedSQL("* EXCLUDE needs a column list")
            entries = [[toks[mod_at + 1]]]
            after = mod_at + 2
        else:
            # paren-less REPLACE: one `expr AS col` entry, ending at the
            # identifier that follows the first top-level AS
            k = mod_at + 1
            d = 0
            entry: list[str] = []
            while k < len(toks):
                tk = toks[k]
                if tk == "(":
                    d += 1
                elif tk == ")":
                    if d == 0:
                        break
                    d -= 1
                if (
                    d == 0
                    and tk.lower() == "as"
                    and k + 1 < len(toks)
                    and _IDENT.match(toks[k + 1])
                ):
                    entry.extend([tk, toks[k + 1]])
                    k += 2
                    break
                entry.append(tk)
                k += 1
            entries = [entry]
            after = k
        star_toks = [qual, ".", "*"] if qual is not None else ["*"]
        if kind == "exclude":
            names = []
            for e in entries:
                if len(e) != 1:
                    raise UnsupportedSQL("* EXCLUDE entries must be column names")
                names.append(e[0])
            out.extend(star_toks + ["EXCEPT", "("])
            for n_, c in enumerate(names):
                if n_:
                    out.append(",")
                out.append(c)
            out.append(")")
            i = after
            continue
        cols, exprs = [], []
        for e in entries:
            if len(e) >= 3 and e[-2].lower() == "as":
                cols.append(e[-1])
                exprs.append(e[:-2])
            else:
                raise UnsupportedSQL("* REPLACE entries need 'expr AS col'")
        src = _star_source_columns(toks, after, qual, spark)
        if src is not None and all(
            c.lower() in {s.lower() for s in src} for c in cols
        ):
            by_name = {c.lower(): (c, ex) for c, ex in zip(cols, exprs)}
            expansion: list[str] = []
            for n_, c in enumerate(src):
                if n_:
                    expansion.append(",")
                hit = by_name.get(c.lower())
                if hit is not None:
                    expansion.extend(hit[1] + ["AS", _bq(hit[0])])
                elif qual is not None:
                    expansion.extend([qual, ".", _bq(c)])
                else:
                    expansion.append(_bq(c))
            out.extend(expansion)
        else:
            out.extend(star_toks + ["EXCEPT", "("])
            for n_, c in enumerate(cols):
                if n_:
                    out.append(",")
                out.append(c)
            out.append(")")
            for c, ex in zip(cols, exprs):
                out.extend([","] + ex + ["AS", _bq(c)])
        i = after
    return out


def _rewrite_glob(toks: list[str]) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            toks[i].lower() == "glob"
            and i + 1 < len(toks)
            and _is_string(toks[i + 1])
            and out
        ):
            out.append("RLIKE")
            out.append(_quote(glob_to_regex(_str_val(toks[i + 1]))))
            i += 2
            continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_intdiv(toks: list[str]) -> list[str]:
    return ["div" if t == "//" else t for t in toks]


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _match_bracket(toks: list[str], open_idx: int) -> int:
    """Index of the ']' matching toks[open_idx] == '[' (either-bracket depth)."""
    depth = 0
    for j in range(open_idx, len(toks)):
        if toks[j] == "[":
            depth += 1
        elif toks[j] == "]":
            depth -= 1
            if depth == 0:
                return j
    raise UnsupportedSQL("unbalanced brackets")


def _rewrite_array_type_suffix(toks: list[str]) -> list[str]:
    """DuckDB `T[]` array-type suffixes (`x::INT[]`, `CAST(x AS INT[])`)
    → Spark `ARRAY<T>`. An adjacent empty `[ ]` pair is never a valid
    subscript, so the rewrite is unambiguous; runs before the subscript
    pass (which would otherwise read the `[` as an element access).
    Nested suffixes (`INT[][]`) fold left-to-right."""
    changed = True
    while changed:
        changed = False
        for i in range(1, len(toks) - 1):
            if toks[i] != "[" or toks[i + 1] != "]":
                continue
            if _IDENT.match(toks[i - 1]):
                start = i - 1
            elif toks[i - 1] == ">":
                # a just-rewritten ARRAY<...> group
                depth, j = 0, i - 1
                while j >= 0:
                    if toks[j] == ">":
                        depth += 1
                    elif toks[j] == "<":
                        depth -= 1
                        if depth == 0:
                            break
                    j -= 1
                start = j - 1 if j > 0 and toks[j - 1].lower() == "array" else -1
            else:
                start = -1
            # only fire in a type position (`:: T[]`, `CAST(x AS T[])`) —
            # an empty [] after e.g. THEN/ELSE is an empty-list literal
            if start <= 0 or toks[start - 1].lower() not in ("::", "as"):
                continue
            elem = toks[start:i]
            if len(elem) == 1:
                # the element type never sits after AS/:: so the typename
                # pass won't see it — translate here (VARCHAR → STRING …)
                elem = [_TYPE_RENAMES.get(elem[0].lower(), elem[0])]
            toks = toks[:start] + ["ARRAY", "<"] + elem + [">"] + toks[i + 2 :]
            changed = True
            break
    return toks


def _rewrite_list_comprehensions(toks: list[str]) -> list[str]:
    """DuckDB list comprehensions (friendly-SQL sugar over the reference's
    list lambdas, duckdb-6.cpp list_transform/list_filter registration):

        [expr FOR v IN lst]          → transform(lst, v -> expr)
        [expr FOR v IN lst IF cond]  → transform(filter(lst, v -> cond),
                                                 v -> expr)

    Runs before the list-literal pass (a comprehension bracket would
    otherwise be misread as an array constructor). Recurses so nested
    comprehensions resolve innermost-first; brackets without a top-level
    FOR pass through untouched."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if toks[i] != "[":
            out.append(toks[i])
            i += 1
            continue
        end = _match_bracket(toks, i)
        inner = _rewrite_list_comprehensions(toks[i + 1 : end])
        d = 0
        fo = io = if_i = -1
        for k, tk in enumerate(inner):
            if tk in ("(", "["):
                d += 1
            elif tk in (")", "]"):
                d -= 1
            elif d == 0 and fo < 0 and tk.lower() == "for":
                fo = k
            elif d == 0 and fo >= 0 and io < 0 and tk.lower() == "in":
                io = k
            elif d == 0 and io >= 0 and if_i < 0 and tk.lower() == "if":
                if_i = k
        if fo < 0:
            out.extend(["["] + inner + ["]"])
            i = end + 1
            continue
        if io != fo + 2 or not _IDENT.match(inner[fo + 1]):
            raise UnsupportedSQL("list comprehension needs [expr FOR var IN list]")
        body = inner[:fo]
        var = inner[fo + 1]
        src = inner[io + 1 : if_i if if_i >= 0 else len(inner)]
        if not body or not src:
            raise UnsupportedSQL("empty list-comprehension body or source")
        if if_i >= 0:
            cond = inner[if_i + 1 :]
            if not cond:
                raise UnsupportedSQL("empty list-comprehension IF condition")
            src = ["filter", "("] + src + [",", var, "->"] + cond + [")"]
        out.extend(["transform", "("] + src + [",", var, "->"] + body + [")"])
        i = end + 1
    return out


def _rewrite_list_literals(toks: list[str]) -> list[str]:
    """DuckDB `[e1, e2, …]` list literals → Spark `array(e1, e2, …)`.

    A `[` right after an identifier / `)` / `]` is a subscript
    (`l[1]`), not a literal — left untouched (reference grammar
    duckdb-libpg_query.cpp indirection vs list ctor)."""
    out: list[str] = []
    stack: list[str] = []  # what each open bracket/paren became
    for i, t in enumerate(toks):
        if t == "(":
            stack.append("(")
            out.append(t)
        elif t == ")":
            if stack:
                stack.pop()
            out.append(t)
        elif t == "[":
            prev = toks[i - 1] if i else ""
            is_subscript = prev in (")", "]") or (
                _IDENT.match(prev) and prev.lower() not in _LITERAL_LEADERS
            )
            if is_subscript:
                stack.append("[")
                out.append("[")
            else:
                stack.append("array")
                out.extend(["array", "("])
        elif t == "]":
            kind = stack.pop() if stack else "["
            out.append("]" if kind == "[" else ")")
        else:
            out.append(t)
    return out


#: keywords after which '[' starts a literal, not a subscript
_LITERAL_LEADERS = {
    "select", "where", "and", "or", "not", "in", "as", "when", "then",
    "else", "on", "by", "from", "union", "all", "distinct", "having",
    "limit", "offset", "array", "values", "return", "returning",
}


def _primary_start(toks: list[str], end: int) -> int:
    """Index where the primary expression ending at toks[end-1] begins:
    a lone identifier/string, or a balanced (...) group with an optional
    function-name identifier before it. Used to grab the left operand of
    postfix syntax (subscripts, `->>`)."""
    j = end - 1
    if j < 0:
        raise UnsupportedSQL("operator with no left operand")
    if toks[j] == ")":
        depth = 0
        while j >= 0:
            if toks[j] == ")":
                depth += 1
            elif toks[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if (
            j > 0
            and _IDENT.match(toks[j - 1])
            and toks[j - 1].lower() not in _NON_FUNCTION_KEYWORDS
        ):
            j -= 1
        j = _dotted_prefix_start(toks, j)
    else:
        j = _dotted_prefix_start(toks, j)
    # a `x :: TYPE` cast chain is one primary — absorb the cast operand
    while j >= 2 and toks[j - 1] == "::":
        j = _primary_start(toks, j - 1)
    return j


#: identifiers that can directly precede a parenthesized group without being
#: the group's function name — keeps _primary_start from absorbing them
_NON_FUNCTION_KEYWORDS = {
    "select", "from", "where", "and", "or", "not", "on", "join", "when",
    "then", "else", "end", "case", "by", "group", "order", "having", "limit",
    "offset", "union", "except", "intersect", "all", "distinct", "as", "in",
    "like", "ilike", "glob", "between", "is", "over", "partition", "values",
    "exists", "qualify", "collate", "asc", "desc", "using",
}


def _dotted_prefix_start(toks: list[str], j: int) -> int:
    """Extend a primary leftward over `alias.` qualification chains so
    `q.embedding[i]` rewrites the whole dotted column, not just the last
    identifier (otherwise the alias ends up qualifying the emitted
    function: `q.element_at(...)`)."""
    while j >= 2 and toks[j - 1] == "." and _IDENT.match(toks[j - 2]):
        j -= 2
    return j


def _rewrite_struct_literals(toks: list[str]) -> list[str]:
    """DuckDB `{'k': expr, …}` struct literals (reference grammar
    duckdb-libpg_query.cpp struct ctor) → Spark `named_struct('k', expr, …)`;
    `MAP {'k': v, …}` map literals → Spark `map('k', v, …)`.
    """
    while "{" in toks:
        i = toks.index("{")
        is_map = i > 0 and toks[i - 1].lower() == "map"
        depth, end = 0, -1
        for j in range(i, len(toks)):
            if toks[j] == "{":
                depth += 1
            elif toks[j] == "}":
                depth -= 1
                if depth == 0:
                    end = j
                    break
        if end < 0:
            raise UnsupportedSQL("unbalanced braces in struct literal")
        inner = _rewrite_struct_literals(toks[i + 1 : end])
        parts: list[str] = []
        keys: list[str] = []
        vals: list[str] = []
        for arg in _split_args(inner):
            if len(arg) >= 2 and _is_string(arg[0]) and arg[1] == ":":
                parts.extend([arg[0], ","] + arg[2:] + [","])
                keys.extend([arg[0], ","])
                vals.extend(arg[2:] + [","])
            else:
                raise UnsupportedSQL(f"struct literal entry needs 'k': expr: {arg}")
        if is_map:
            # emit map_from_arrays directly: a one-pair literal would emit
            # `map(k, v)` — indistinguishable from DuckDB's two-list
            # MAP(keys, values) constructor that _emit_call translates
            toks = (toks[: i - 1]
                    + ["map_from_arrays", "(", "array", "("] + keys[:-1]
                    + [")", ",", "array", "("] + vals[:-1] + [")", ")"]
                    + toks[end + 1 :])
        else:
            toks = toks[:i] + ["named_struct", "("] + parts[:-1] + [")"] + toks[end + 1 :]
    return toks


def _rewrite_subscripts(toks: list[str]) -> list[str]:
    """1-based DuckDB subscripts / slices (runs after the list-literal pass,
    so every remaining `[` is a subscript): `e[i]` → `element_at(e, i)`
    (NULL out-of-bounds, both engines), `e[a:b]` → `slice(e, a, b - a + 1)`
    (1-based, inclusive both ends — verified against DuckDB)."""
    while "[" in toks:
        i = toks.index("[")
        end = i
        depth = 0
        for j in range(i, len(toks)):
            if toks[j] == "[":
                depth += 1
            elif toks[j] == "]":
                depth -= 1
                if depth == 0:
                    end = j
                    break
        inner = toks[i + 1 : end]
        start = _primary_start(toks, i)
        prim = toks[start:i]
        parts: list[list[str]] = [[]]
        d = 0
        for t in inner:
            if t in ("(", "["):
                d += 1
            elif t in (")", "]"):
                d -= 1
            if t == ":" and d == 0:
                parts.append([])
            else:
                parts[-1].append(t)
        if len(parts) == 2:
            a, b = parts
            simple_a = len(a) == 1 and a[0].isdigit() and int(a[0]) >= 1
            simple_b = len(b) == 1 and b[0].isdigit()
            if simple_a and simple_b and int(b[0]) >= int(a[0]):
                # fast path: positive literal bounds — Spark slice() already
                # truncates an overshooting length at the array end
                new = (
                    ["slice", "("] + prim + [",", a[0], ",",
                     str(int(b[0]) - int(a[0]) + 1), ")"]
                )
            else:
                # full DuckDB slice semantics (verified against the oracle):
                # 1-based inclusive; negative bound = size+bound+1 (so -1 is
                # the last element, inclusive); open start → 1, open end →
                # size; start clamps up to 1, end down to size; start > end
                # → empty. The source expression is repeated (size() probes)
                # — same re-evaluation DuckDB's binder performs for pure
                # expressions.
                size_e = ["size", "("] + prim + [")"]

                def _bound(expr: list[str], *, is_start: bool) -> list[str]:
                    if not expr:
                        return ["1"] if is_start else size_e
                    neg = (["CASE", "WHEN", "("] + expr + [")", "<", "0",
                           "THEN"] + size_e + ["+", "("] + expr + [")",
                           "+", "1", "ELSE"])
                    if is_start:
                        return neg + ["("] + expr + [")", "END"]
                    return (neg + ["least", "(", "("] + expr + [")", ","]
                            + size_e + [")", "END"])

                s_tok = (["greatest", "(", "1", ","]
                         + _bound(a, is_start=True) + [")"])
                b_tok = _bound(b, is_start=False)
                new = (
                    ["slice", "(" ] + prim
                    + [",", "CAST", "(", "("] + s_tok + [")", "AS", "INT", ")"]
                    + [",", "CAST", "(", "greatest", "(", "0", ",", "("]
                    + b_tok + [")", "-", "("] + s_tok + [")", "+", "1", ")",
                       "AS", "INT", ")", ")"]
                )
        elif len(parts) == 3:
            # step slice l[a:b:c]: 1-based inclusive with stride — walk
            # an index sequence and element_at each position (the
            # sequence guard avoids Spark's descending 1..0 surprise)
            a, b, c = parts
            e = " ".join(prim)
            a_s = " ".join(a) if a else "1"
            b_s = f"least({' '.join(b)}, size({e}))" if b else f"size({e})"
            step = " ".join(c) if c else "1"
            new = _tokens(
                f"(CASE WHEN ({b_s}) < ({a_s}) THEN array()"
                f" ELSE transform(sequence(CAST(({a_s}) AS INT),"
                f" CAST(({b_s}) AS INT), CAST(({step}) AS INT)),"
                f" __qs_si -> element_at({e}, __qs_si)) END)"
            )
        elif len(parts) == 1:
            if len(parts[0]) == 1 and _is_string(parts[0][0]):
                # map subscript by string key — DuckDB map extraction
                # returns a LIST of matches ([] when absent), same as
                # map_extract; mirror that emission exactly
                k = parts[0][0]
                new = (
                    ["IF", "(", "map_contains_key", "("] + prim
                    + [",", k, ")", ",", "array", "(", "try_element_at", "("]
                    + prim + [",", k, ")", ")", ",", "array", "(", ")", ")"]
                )
            else:
                # Spark's array element_at wants INT (DuckDB subscripts
                # accept BIGINT, e.g. list_position results) → explicit cast
                new = (
                    ["element_at", "("] + prim
                    + [",", "CAST", "(", "("] + parts[0]
                    + [")", "AS", "INT", ")", ")"]
                )
        else:
            raise UnsupportedSQL("unsupported subscript form")
        toks = toks[:start] + new + toks[end + 1 :]
    return toks


def _rewrite_let_subqueries(toks: list[str]) -> list[str]:
    """Inline DuckDB's FROM-less "let binding" scalar subqueries:

        (SELECT <sel over v1..vk> FROM (SELECT e1 AS v1, … ek AS vk) _x)
        → (<sel with each standalone vi replaced by (ei)>)

    DuckDB evaluates these per-row (correlated); Spark rejects correlated
    scalar subqueries inside generators/LATERAL VIEW positions, so the
    binding is macro-expanded instead. Innermost occurrences first so
    nested bindings resolve."""

    def find_one(ts: list[str]) -> tuple[int, int, list[str]] | None:
        for i in range(len(ts) - 1):
            if ts[i] != "(" or ts[i + 1].lower() != "select":
                continue
            depth, end = 0, -1
            for j in range(i, len(ts)):
                if ts[j] == "(":
                    depth += 1
                elif ts[j] == ")":
                    depth -= 1
                    if depth == 0:
                        end = j
                        break
            if end < 0:
                continue
            body = ts[i + 2 : end]
            # top-level FROM ( SELECT ... ) [alias] at the END of the group
            d = 0
            from_at = -1
            for k, t in enumerate(body):
                if t == "(":
                    d += 1
                elif t == ")":
                    d -= 1
                elif d == 0 and t.lower() == "from":
                    from_at = k
            if from_at < 0 or from_at + 1 >= len(body) or body[from_at + 1] != "(":
                continue
            tail = body[from_at + 1 :]
            d2, inner_end = 0, -1
            for k, t in enumerate(tail):
                if t == "(":
                    d2 += 1
                elif t == ")":
                    d2 -= 1
                    if d2 == 0:
                        inner_end = k
                        break
            if inner_end < 0:
                continue
            rest = tail[inner_end + 1 :]
            if rest and not (len(rest) == 1 and _IDENT.match(rest[0])):
                continue  # something after the derived table besides an alias
            inner = tail[1:inner_end]
            if not inner or inner[0].lower() != "select":
                continue
            inner_body = inner[1:]
            # binding subquery must itself be FROM-less
            d3 = 0
            for t in inner_body:
                if t == "(":
                    d3 += 1
                elif t == ")":
                    d3 -= 1
                elif d3 == 0 and t.lower() == "from":
                    break
            else:
                sel = body[:from_at]
                binds: dict[str, list[str]] = {}
                ok = True
                for arg in _split_args(inner_body):
                    if len(arg) >= 3 and arg[-2].lower() == "as" and _IDENT.match(arg[-1]):
                        binds[arg[-1].lower()] = arg[:-2]
                    else:
                        ok = False
                if ok and binds:
                    sub: list[str] = []
                    for k, t in enumerate(sel):
                        if (
                            t.lower() in binds
                            and (k == 0 or sel[k - 1] != ".")
                            and (k + 1 >= len(sel) or sel[k + 1] != "(")
                        ):
                            sub.extend(["("] + binds[t.lower()] + [")"])
                        else:
                            sub.append(t)
                    return i, end, ["("] + sub + [")"]
        return None

    while True:
        hit = find_one(toks)
        if hit is None:
            return toks
        i, end, repl = hit
        toks = toks[:i] + repl + toks[end + 1 :]


def _rewrite_lambda_parens(toks: list[str]) -> list[str]:
    """`(x) -> body` single-parameter lambda — DuckDB allows the parens,
    Spark's parser rejects them. Strip: `( ident ) ->` → `ident ->`."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (toks[i] == "(" and i + 3 < len(toks) and _IDENT.match(toks[i + 1])
                and toks[i + 2] == ")" and toks[i + 3] == "->"):
            out.extend([toks[i + 1], "->"])
            i += 4
            continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_composite_types(toks: list[str], in_type: bool = False) -> list[str]:
    """DuckDB's parenthesized composite type syntax in cast position:
    `STRUCT(a T, b U)` → `STRUCT<a: T, b: U>`, `MAP(K, V)` → `MAP<K, V>`,
    recursively, with member typenames translated. At top level fires
    only right after AS/:: so map()/struct() constructor CALLS stay
    calls; inside a type (recursion) the member contexts are allowed."""
    allowed = ("as", "::", "<", ",", ":") if in_type else ("as", "::")
    changed = True
    while changed:
        changed = False
        for i in range(1, len(toks) - 1):
            low = toks[i].lower()
            if low not in ("struct", "map") or toks[i + 1] != "(":
                continue
            prev = toks[i - 1].lower()
            # inside a type, `name STRUCT(...)` member syntax puts the
            # member identifier right before the nested composite
            if prev not in allowed and not (in_type and _IDENT.match(prev)):
                continue
            end = _find_call_end(toks, i + 1)
            # pad so a nested composite at inner position 0 sees a
            # member context
            inner = _rewrite_composite_types(
                [","] + toks[i + 2 : end], in_type=True
            )[1:]

            def _member_type(ts: list[str]) -> list[str]:
                # resolve T[] suffixes (the main suffix pass needs a cast
                # context) and bare typename renames
                ts = _rewrite_array_type_suffix(["::"] + ts)[1:]
                return [_TYPE_RENAMES.get(t.lower(), t) for t in ts]

            if low == "map":
                parts = _split_args(inner)
                if len(parts) != 2:
                    raise UnsupportedSQL("MAP type needs (key, value)")
                new = (["MAP", "<"] + _member_type(parts[0]) + [","]
                       + _member_type(parts[1]) + [">"])
            else:
                members: list[str] = []
                for part in _split_args(inner):
                    if len(part) < 2:
                        raise UnsupportedSQL("STRUCT type member needs name TYPE")
                    if members:
                        members.append(",")
                    members.extend(
                        [f"`{part[0]}`", ":"] + _member_type(part[1:])
                    )
                new = ["STRUCT", "<"] + members + [">"]
            toks = toks[:i] + new + toks[end + 1 :]
            changed = True
            break
    return toks


_TIME_LIT = re.compile(
    r"^(\d{1,2}):(\d{2})(?::(\d{2}))?(?:\.(\d{1,6}))?"
    r"(?:\s*([+-])(\d{1,2})(?::(\d{2}))?(?::(\d{2}))?)?$"
)


def _parse_time_literal(text: str) -> tuple[int, int | None]:
    """'hh:mm:ss.ffffff[±HH[:MM[:SS]]]' → (µs since midnight, offset
    seconds or None) — DuckDB's TIME/TIMETZ literal grammar
    (duckdb.hpp:914,931 TIME/TIME_TZ logical types)."""
    m = _TIME_LIT.match(text.strip())
    if not m:
        raise UnsupportedSQL(f"bad TIME literal {text!r}")
    h, mi = int(m.group(1)), int(m.group(2))
    s = int(m.group(3) or 0)
    frac = (m.group(4) or "").ljust(6, "0")
    if h > 24 or mi > 59 or s > 59 or (h == 24 and (mi or s or int(frac))):
        raise UnsupportedSQL(f"TIME literal out of range {text!r}")
    micros = ((h * 3600 + mi * 60 + s) * 1_000_000) + int(frac)
    off = None
    if m.group(5):
        off = (
            int(m.group(6)) * 3600
            + int(m.group(7) or 0) * 60
            + int(m.group(8) or 0)
        )
        if m.group(5) == "-":
            off = -off
    return micros, off


#: date_part-style extraction fns whose TIME-carrier forms differ from the
#: timestamp builtins (DuckDB on TIME: hour/minute/second plus
#: microsecond/millisecond counting WITHIN THE MINUTE — oracle-verified:
#: microsecond(TIME '12:30:45.123456') = 45123456)
_TIME_EXTRACT_FNS = {"hour", "minute", "second", "millisecond", "microsecond"}


def _retarget_time_extraction(out: list[str]) -> None:
    """When a TIME carrier lands as the sole argument of an enclosing
    extraction call, retarget the call onto the carrier arithmetic marker
    (__qs_time_<unit>, emitted in _emit_call_extra) — Spark's hour() etc.
    cannot take the BIGINT carrier."""
    p = _enclosing_call_name(out)
    if p is not None and out[p].lower() in _TIME_EXTRACT_FNS \
            and p + 2 == len(out):  # carrier is the first/only argument
        out[p] = "__qs_time_" + out[p].lower()
        return
    # Any OTHER still-open extraction call enclosing this carrier —
    # hour(coalesce(TIME …, x)), hour(greatest(TIME …, TIME …)), or the
    # carrier not in first-argument position — cannot be retargeted:
    # Spark's hour() would implicitly cast the BIGINT µs carrier and be
    # silently wrong.  Refuse loudly instead (ADVICE r12).
    d = 0
    for k in range(len(out) - 1, -1, -1):
        t = out[k]
        if t == ")":
            d += 1
        elif t == "(":
            if d == 0:
                if k > 0 and out[k - 1].lower() in _TIME_EXTRACT_FNS:
                    raise UnsupportedSQL(
                        f"{out[k - 1]}() over an expression containing a "
                        f"TIME literal: the TIME carrier can only be "
                        f"extracted directly ({out[k - 1]}(TIME '…'))"
                    )
            else:
                d -= 1


def _rewrite_time_literals(toks: list[str]) -> list[str]:
    """`TIME '12:34:56.789'` → µs-since-midnight BIGINT literal;
    `TIMETZ '…±HH:MM'` / `TIME WITH TIME ZONE '…'` → the
    struct<micros,offset_s> carrier (functions/compat.make_time_tz) —
    the typed-literal faces of the TIME carriers, so TIME-typed DDL
    columns (ddl._translate_type) insert and compare naturally."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        low = toks[i].lower()
        prev = toks[i - 1].lower() if i else ""
        if prev not in ("at",) and low in ("time", "timetz"):
            # TIME WITH TIME ZONE 'lit'  (5 tokens) or TIME/TIMETZ 'lit'
            j = i + 1
            with_zone = low == "timetz"
            if (
                low == "time"
                and i + 3 < len(toks)
                and toks[i + 1].lower() == "with"
                and toks[i + 2].lower() == "time"
                and toks[i + 3].lower() == "zone"
            ):
                with_zone = True
                j = i + 4
            if j < len(toks) and _is_string(toks[j]):
                micros, off = _parse_time_literal(_str_val(toks[j]))
                if with_zone:
                    # DuckDB's TIMETZ default offset is UTC
                    out.extend(_tokens(
                        f"named_struct('micros', CAST({micros} AS BIGINT), "
                        f"'offset_s', CAST({off or 0} AS INT))"
                    ))
                else:
                    if off is not None:
                        raise UnsupportedSQL(
                            f"plain TIME literal cannot carry an offset: "
                            f"{_str_val(toks[j])!r}"
                        )
                    _retarget_time_extraction(out)
                    out.extend(["CAST", "(", str(micros), "AS", "BIGINT", ")"])
                i = j + 1
                continue
        out.append(toks[i])
        i += 1
    return out


def _tstz_literal_toks(lit: str) -> list[str]:
    """TIMESTAMPTZ typed literal → a value-identity conversion that KEEPS
    the instant-typed provenance visible to later passes:
    `from_utc_timestamp(CAST('<s>' AS TIMESTAMP), 'UTC')` is the same
    value under the UTC session, and its head token lets timezone() /
    AT TIME ZONE dispatch the instant→wall direction like the reference
    does on the TIMESTAMPTZ input type."""
    return _tokens(f"from_utc_timestamp(CAST({lit} AS TIMESTAMP), 'UTC')")


def _rewrite_multiword_type_literals(toks: list[str]) -> list[str]:
    """`TIMESTAMP WITH TIME ZONE '…'` / `TIMESTAMPTZ '…'` /
    `TIMESTAMP_S/MS/NS '…'` typed literals → CAST-based forms (UTC
    session: instants == wall times); the TZ-typed ones go through
    _tstz_literal_toks so direction-sensitive consumers see the type."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (toks[i].lower() == "timestamp" and i + 4 < len(toks)
                and toks[i + 1].lower() == "with"
                and toks[i + 2].lower() == "time"
                and toks[i + 3].lower() == "zone"
                and _is_string(toks[i + 4])):
            out.extend(_tstz_literal_toks(toks[i + 4]))
            i += 5
            continue
        if (toks[i].lower() == "timestamptz" and i + 1 < len(toks)
                and _is_string(toks[i + 1])):
            # single-keyword typed literal (r12 fn-surface sweep: was an
            # unrewritten pass-through Spark rejects)
            out.extend(_tstz_literal_toks(toks[i + 1]))
            i += 2
            continue
        if (toks[i].lower() in ("timestamp_s", "timestamp_ms", "timestamp_ns")
                and i + 1 < len(toks) and _is_string(toks[i + 1])):
            out.extend(["CAST", "(", toks[i + 1], "AS", "TIMESTAMP", ")"])
            i += 2
            continue
        out.append(toks[i])
        i += 1
    return out


_INTERVAL_UNIT_POS = {
    "year": 0, "years": 0, "y": 0,
    "month": 1, "months": 1, "mon": 1,
    "week": 2, "weeks": 2,
    "day": 3, "days": 3, "d": 3,
    "hour": 4, "hours": 4, "h": 4,
    "minute": 5, "minutes": 5, "min": 5, "m": 5,
    "second": 6, "seconds": 6, "sec": 6, "s": 6,
    "millisecond": 7, "milliseconds": 7, "ms": 7,
    "microsecond": 8, "microseconds": 8, "us": 8,
}


def _rewrite_mixed_intervals(toks: list[str]) -> list[str]:
    """`INTERVAL '1 year 2 months 3 days'` — Spark refuses literals that
    mix year-month and day-time fields; re-emit as make_interval(...)
    (which accepts all seven slots at once)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (toks[i].lower() == "interval" and i + 1 < len(toks)
                and _is_string(toks[i + 1])):
            text = _str_val(toks[i + 1]).strip()
            parts = text.split()
            if len(parts) >= 4 and len(parts) % 2 == 0:
                slots = [0.0] * 9
                ok = True
                for k in range(0, len(parts), 2):
                    unit = parts[k + 1].lower()
                    if unit not in _INTERVAL_UNIT_POS:
                        ok = False
                        break
                    try:
                        slots[_INTERVAL_UNIT_POS[unit]] += float(parts[k])
                    except ValueError:
                        ok = False
                        break
                if ok:
                    secs = slots[6] + slots[7] / 1e3 + slots[8] / 1e6
                    args7 = [int(slots[0]), int(slots[1]), int(slots[2]),
                             int(slots[3]), int(slots[4]), int(slots[5])]
                    out.extend(_tokens(
                        "make_interval(" + ", ".join(map(str, args7))
                        + f", CAST({secs} AS DECIMAL(18,6)))"
                    ))
                    i += 2
                    continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_struct_json_casts(toks: list[str]) -> list[str]:
    """`<container ctor> :: JSON` → `to_json(...)`: Spark's CAST of a
    struct/map/array to STRING is brace-notation, not JSON. Only fires
    when the cast operand is a visible container constructor — column
    operands keep the plain JSON→STRING type rename."""
    changed = True
    ctors = {"named_struct", "map", "map_from_arrays", "array", "struct"}
    while changed:
        changed = False
        for i in range(1, len(toks) - 1):
            if toks[i] != "::" or toks[i + 1].lower() != "json":
                continue
            start = _primary_start(toks, i)
            prim = toks[start:i]
            head = next((t for t in prim if t != "("), "")
            if head.lower() not in ctors:
                continue
            toks = (toks[:start] + ["to_json", "("] + prim + [")"]
                    + toks[i + 2 :])
            changed = True
            break
    return toks


def _rewrite_array_overlap(toks: list[str]) -> list[str]:
    """`A && B` list-overlap operator (DuckDB's list_has_any operator
    form) → `arrays_overlap(A, B)`."""
    while "&&" in toks:
        i = toks.index("&&")
        start = _primary_start(toks, i)
        prim = toks[start:i]
        j = i + 1
        if j >= len(toks):
            raise UnsupportedSQL("&& with no right operand")
        if toks[j] == "(":
            pe = _find_call_end(toks, j)
        elif _IDENT.match(toks[j]):
            pe = (_find_call_end(toks, j + 1)
                  if j + 1 < len(toks) and toks[j + 1] == "(" else j)
        else:
            raise UnsupportedSQL(f"&& right operand: {toks[j]!r}")
        toks = (toks[:start] + ["arrays_overlap", "("] + prim + [","]
                + toks[j : pe + 1] + [")"] + toks[pe + 1 :])
    return toks


def _rewrite_window_inheritance(toks: list[str]) -> list[str]:
    """Named-window inheritance (`WINDOW w AS (...), w2 AS (w ORDER BY
    ...)`): Spark parses the WINDOW clause but not a spec referencing an
    earlier window — splice the referenced spec's tokens in."""
    lows = [t.lower() for t in toks]
    i = 0
    while i < len(toks):
        if (lows[i] == "window" and i + 3 < len(toks)
                and _IDENT.match(toks[i + 1])
                and lows[i + 2] == "as" and toks[i + 3] == "("):
            specs: dict[str, list[str]] = {}
            k = i + 1
            while k + 2 < len(toks) and _IDENT.match(toks[k]) and \
                    toks[k + 1].lower() == "as" and toks[k + 2] == "(":
                end = _find_call_end(toks, k + 2)
                name = toks[k].lower()
                spec = toks[k + 3 : end]
                if spec and spec[0].lower() in specs:
                    inherited = specs[spec[0].lower()]
                    spec = inherited + spec[1:]
                    toks = toks[: k + 3] + spec + toks[end:]
                    end = k + 3 + len(spec)
                specs[name] = spec
                lows = [t.lower() for t in toks]
                if end + 1 < len(toks) and toks[end + 1] == ",":
                    k = end + 2
                else:
                    break
        i += 1
    return toks


def _rewrite_filter_clause(toks: list[str]) -> list[str]:
    """Aggregate `FILTER (pred)` shorthand (DuckDB drops the WHERE) →
    Spark's mandatory `FILTER (WHERE pred)`. Only fires right after a
    call's closing paren, so the filter() HOF is never touched."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (toks[i].lower() == "filter" and i >= 1 and toks[i - 1] == ")"
                and i + 2 < len(toks) and toks[i + 1] == "("
                and toks[i + 2].lower() != "where"):
            out.extend(["FILTER", "(", "WHERE"])
            i += 2
            continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_method_calls(toks: list[str]) -> list[str]:
    """DuckDB function-chaining ("method") syntax, friendly SQL over the
    reference's regular call binding: `x.f(args)` ≡ `f(x, args)`; chains
    left-fold (`s.trim().upper()`). Runs after the list-literal and
    subscript passes so the left primary always ends in an identifier,
    string, or ')'. Dotted schema-qualified *table* names never collide:
    this only fires when a '(' directly follows the dotted identifier."""
    changed = True
    while changed:
        changed = False
        for i in range(1, len(toks) - 2):
            if not (toks[i] == "." and _IDENT.match(toks[i + 1])
                    and toks[i + 2] == "("):
                continue
            start = _primary_start(toks, i)
            prim = toks[start:i]
            if not prim:
                continue
            end = _find_call_end(toks, i + 2)
            args = toks[i + 3 : end]
            new = ([toks[i + 1], "("] + prim
                   + ([","] + args if args else []) + [")"])
            toks = toks[:start] + new + toks[end + 1 :]
            changed = True
            break
    return toks


def _rewrite_similar_to(toks: list[str]) -> list[str]:
    """`expr [NOT] SIMILAR TO pat` — DuckDB binds this to anchored regex
    match (regexp_full_match, duckdb-6.cpp regex registration; the SQL
    standard's %-wildcard layer is NOT applied — verified against the
    oracle). Spark RLIKE is unanchored search, so wrap the pattern in
    ^(?:…)$. Operator position is preserved (left operand untouched)."""
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        if (toks[i].lower() == "similar" and i + 2 < n
                and toks[i + 1].lower() == "to"):
            neg = out and out[-1].lower() == "not"
            if neg:
                out.pop()
            pat = toks[i + 2]
            if _is_string(pat):
                anchored = [_quote(f"^(?:{_str_val(_posix_regex(pat))})$")]
                i += 3
            else:
                # non-literal pattern: anchor at runtime
                j = i + 2
                if toks[j] == "(":
                    pend = _find_call_end(toks, j)
                elif _IDENT.match(toks[j]):
                    pend = (_find_call_end(toks, j + 1)
                            if j + 1 < n and toks[j + 1] == "(" else j)
                else:
                    raise UnsupportedSQL("SIMILAR TO pattern form")
                anchored = (["concat", "(", "'^(?:'", ","]
                            + toks[j : pend + 1] + [",", "')$'", ")"])
                i = pend + 1
            out += (["NOT"] if neg else []) + ["RLIKE"] + anchored
            continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_mad(toks: list[str]) -> list[str]:
    """`mad(x)` median-absolute-deviation in a single-table SELECT block
    (reference holistic registration duckdb-5.cpp:12-17): a holistic of a
    holistic needs two aggregation rounds, so the block is rewritten to
    join a per-group median subquery:

        SELECT g, mad(E) FROM t WHERE w GROUP BY g
        → SELECT g, percentile(abs(E - __qs_mad_m), 0.5)
          FROM t JOIN (SELECT g, percentile(E, 0.5) AS __qs_mad_m
                       FROM t WHERE w GROUP BY g) __qs_med USING (g)
          WHERE w GROUP BY g

    (ungrouped → CROSS JOIN on the 1-row median). Applies to one mad()
    over a plain FROM-table block; anything fancier keeps the honest
    refusal in _emit_call_extra."""
    lows = [t.lower() for t in toks]
    count = sum(
        1 for i in range(len(toks) - 1)
        if lows[i] == "mad" and toks[i + 1] == "("
    )
    if count != 1:
        return toks
    i = lows.index("mad")
    if i + 1 >= len(toks) or toks[i + 1] != "(":
        return toks
    end = _find_call_end(toks, i + 1)
    expr = " ".join(toks[i + 2 : end])
    # single top-level FROM with a plain table identifier
    depth = 0
    from_at = table = None
    for k, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and lows[k] in ("union", "intersect", "except"):
            return toks
        elif depth == 0 and lows[k] == "from" and from_at is None:
            from_at = k
            cand = toks[k + 1] if k + 1 < len(toks) else ""
            if not _IDENT.match(cand):
                return toks
            table = cand
    if table is None:
        return toks
    # WHERE span and GROUP BY keys (plain idents only)
    where_toks: list[str] = []
    keys: list[str] = []
    depth = 0
    k = from_at + 2
    stop = {"group", "order", "limit", "having", "qualify", "window"}
    while k < len(toks):
        if toks[k] == "(":
            depth += 1
        elif toks[k] == ")":
            depth -= 1
        if depth == 0 and lows[k] == "where":
            k += 1
            while k < len(toks):
                if toks[k] == "(":
                    depth += 1
                elif toks[k] == ")":
                    depth -= 1
                if depth == 0 and lows[k] in stop:
                    break
                where_toks.append(toks[k])
                k += 1
            continue
        if (depth == 0 and lows[k] == "group" and k + 1 < len(toks)
                and lows[k + 1] == "by"):
            k += 2
            cur: list[str] = []
            while k < len(toks):
                if toks[k] == "(":
                    depth += 1
                elif toks[k] == ")":
                    depth -= 1
                if depth == 0 and lows[k] in stop:
                    break
                if toks[k] == "," and depth == 0:
                    keys.append(" ".join(cur))
                    cur = []
                else:
                    cur.append(toks[k])
                k += 1
            if cur:
                keys.append(" ".join(cur))
            continue
        k += 1
    if not all(_IDENT.match(key) for key in keys):
        return toks
    where_sql = f" WHERE {' '.join(where_toks)}" if where_toks else ""
    e = f"CAST(({expr}) AS DOUBLE)"
    if keys:
        # rename the subquery keys and join with null-safe <=> so a
        # NULL-valued group key still matches its median row (JOIN USING
        # would silently drop the NULL-key group DuckDB returns)
        renamed = [f"{key} AS __qs_mad_k{j}" for j, key in enumerate(keys)]
        med = (f"(SELECT {', '.join(renamed)}, percentile({e}, 0.5) AS "
               f"__qs_mad_m FROM {table}{where_sql} "
               f"GROUP BY {', '.join(keys)})")
        cond = " AND ".join(
            f"{key} <=> __qs_mad_k{j}" for j, key in enumerate(keys)
        )
        join = f"{table} JOIN {med} __qs_med ON {cond}"
    else:
        med = (f"(SELECT percentile({e}, 0.5) AS __qs_mad_m "
               f"FROM {table}{where_sql})")
        join = f"{table} CROSS JOIN {med} __qs_med"
    replacement = f"percentile(abs({e} - __qs_mad_m), 0.5)"
    out = (toks[:i] + _tokens(replacement) + toks[end + 1 :])
    # swap the FROM table for the join (positions shifted by the splice)
    lows2 = [t.lower() for t in out]
    depth = 0
    for k2, t2 in enumerate(out):
        if t2 == "(":
            depth += 1
        elif t2 == ")":
            depth -= 1
        elif depth == 0 and lows2[k2] == "from" and k2 + 1 < len(out):
            if out[k2 + 1].lower() == table.lower():
                return out[: k2 + 1] + _tokens(join) + out[k2 + 2 :]
    return toks


def _rewrite_at_time_zone(toks: list[str]) -> list[str]:
    """`expr AT TIME ZONE 'tz'` (reference timezone operator,
    duckdb-libpg_query.cpp AT TIME ZONE grammar rule; DuckDB semantics
    verified against the oracle):

    - NTZ input → instant: interpret the wall-clock value in tz →
      `to_utc_timestamp(expr, tz)` (our fixtures' timestamps and all
      TIMESTAMP literals are NTZ, so this is the default direction).
    - Applied to a result we already converted (the `(x AT TIME ZONE a)
      AT TIME ZONE b` roundtrip idiom): the input is an instant, DuckDB
      returns the wall clock in tz → `from_utc_timestamp(expr, tz)`.

    A token rewriter cannot type-dispatch arbitrary LTZ column inputs;
    those would need the NTZ→instant caveat documented here."""
    while True:
        idx = -1
        for i in range(len(toks) - 2):
            if (toks[i].lower() == "at" and toks[i + 1].lower() == "time"
                    and toks[i + 2].lower() == "zone"):
                idx = i
                break
        if idx < 0:
            return toks
        start = _primary_start(toks, idx)
        # absorb a typed-literal keyword: TIMESTAMP '…' AT TIME ZONE …
        if (start > 0 and _is_string(toks[start])
                and toks[start - 1].lower() in ("timestamp", "timestamptz",
                                                "date", "time")):
            start -= 1
        prim = toks[start:idx]
        j = idx + 3
        if j >= len(toks):
            raise UnsupportedSQL("AT TIME ZONE missing timezone operand")
        if _is_string(toks[j]):
            tz, tzend = [toks[j]], j
        elif toks[j] == "(":
            tzend = _find_call_end(toks, j)
            tz = toks[j : tzend + 1]
        elif _IDENT.match(toks[j]):
            if j + 1 < len(toks) and toks[j + 1] == "(":
                tzend = _find_call_end(toks, j + 1)
            else:
                tzend = j
            tz = toks[j : tzend + 1]
        else:
            raise UnsupportedSQL(f"AT TIME ZONE operand: {toks[j]!r}")
        head = ""
        for t in prim:
            if t != "(":
                head = t.lower()
                break
        fn = ("from_utc_timestamp"
              if head in ("to_utc_timestamp", "from_utc_timestamp",
                          "timestamptz")
              else "to_utc_timestamp")
        toks = (toks[:start] + [fn, "("] + prim + [","] + tz + [")"]
                + toks[tzend + 1 :])


def _rewrite_pg_operators(toks: list[str]) -> list[str]:
    """Postgres-style operators DuckDB inherits (duckdb-libpg_query.cpp
    operator table): `**`/`^` power (Spark's `^` is XOR — must rewrite),
    `~`/`!~`/`~*`/`!~*` regex match, `~~` family LIKE/ILIKE, `^@`
    starts_with, postfix `!` factorial. The tokenizer splits each into
    single-char tokens; an adjacent `!=` lexes as one token, so a lone
    `!` after a primary is factorial (Postgres rule)."""
    out: list[str] = []
    i = 0
    n = len(toks)

    def take_left() -> list[str]:
        start = _primary_start(out, len(out))
        left = out[start:]
        del out[start:]
        return left

    def binop(i2: int, mid: list[str], *, neg: bool = False,
              ci: bool = False) -> int:
        left = take_left()
        rend = _forward_primary_end(toks, i2)
        right = toks[i2:rend]
        if mid == ["RLIKE"]:
            right = [_posix_regex(t) for t in right]
        if ci:
            right = ["concat", "(", "'(?i)'", ","] + right + [")"]
        body = ["("] + left + mid + right + [")"]
        if neg:
            body = ["(", "NOT"] + body + [")"]
        out.extend(body)
        return rend

    def fncall(i2: int, fn: str) -> int:
        left = take_left()
        rend = _forward_primary_end(toks, i2)
        out.extend([fn, "("] + left + [","] + toks[i2:rend] + [")"])
        return rend

    def after_primary() -> bool:
        """True when the previous emitted token ends a primary — separates
        binary/postfix uses from prefix `~` (bitwise NOT, same in Spark)."""
        if not out:
            return False
        p = out[-1]
        if p.lower() in _NON_FUNCTION_KEYWORDS:
            return False  # `SELECT ~x` / `WHERE ~x` — prefix position
        return p in (")", "]") or _is_string(p) or bool(
            re.fullmatch(r"[A-Za-z_0-9.]+", p)
        )

    while i < n:
        t = toks[i]
        n1 = toks[i + 1] if i + 1 < n else ""
        n2 = toks[i + 2] if i + 2 < n else ""
        n3 = toks[i + 3] if i + 3 < n else ""
        if t in ("~", "^") and not after_primary():
            # prefix position: `~x` is bitwise NOT in both engines
            out.append(t)
            i += 1
            continue
        if t == "*" and n1 == "*":
            i = fncall(i + 2, "power")
        elif t == "^" and n1 == "@":
            i = fncall(i + 2, "startswith")
        elif t == "^":
            i = fncall(i + 1, "power")
        elif t == "!" and n1 == "~" and n2 == "~" and n3 == "*":
            i = binop(i + 4, ["ILIKE"], neg=True)
        elif t == "!" and n1 == "~" and n2 == "~":
            i = binop(i + 3, ["LIKE"], neg=True)
        elif t == "!" and n1 == "~" and n2 == "*":
            i = binop(i + 3, ["RLIKE"], neg=True, ci=True)
        elif t == "!" and n1 == "~":
            i = binop(i + 2, ["RLIKE"], neg=True)
        elif t == "~" and n1 == "~" and n2 == "*":
            i = binop(i + 3, ["ILIKE"])
        elif t == "~" and n1 == "~":
            i = binop(i + 2, ["LIKE"])
        elif t == "~" and n1 == "*":
            i = binop(i + 2, ["RLIKE"], ci=True)
        elif t == "~":
            i = binop(i + 1, ["RLIKE"])
        elif t == "!" and after_primary():
            left = take_left()
            out.extend(["factorial", "("] + left + [")"])
            i += 1
        else:
            out.append(t)
            i += 1
    return out


def _rewrite_date_interval_arith(toks: list[str]) -> list[str]:
    """`DATE 'lit' ± INTERVAL …` yields TIMESTAMP in DuckDB but DATE in
    Spark — wrap the date literal so both engines return the timestamp."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            toks[i].lower() == "date"
            and i + 2 < len(toks)
            and _is_string(toks[i + 1])
            and toks[i + 2] in ("+", "-")
            and any(
                x.lower() == "interval" for x in toks[i + 3 : i + 9]
            )
        ):
            out.extend(
                ["CAST", "(", "DATE", toks[i + 1], "AS", "TIMESTAMP", ")"]
            )
            i += 2
            continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_bit_shifts(toks: list[str]) -> list[str]:
    """DuckDB `a << n` / `a >> n` (reference bit ops duckdb-6.cpp operator
    table) → Spark `shiftleft(a, n)` / `shiftright(a, n)` — Spark's parser
    has no shift operators. Right operand: the next primary (literal,
    identifier, or function-name + balanced parens)."""
    while "<<" in toks or ">>" in toks:
        i = toks.index("<<") if "<<" in toks else len(toks)
        k = toks.index(">>") if ">>" in toks else len(toks)
        i = min(i, k)
        fn = "shiftleft" if toks[i] == "<<" else "shiftright"
        start = _primary_start(toks, i)
        # right primary: [ident] ( ... ) | single token
        j = i + 1
        if j < len(toks) and _IDENT.match(toks[j]) and j + 1 < len(toks) and toks[j + 1] == "(":
            j += 1
        if j < len(toks) and toks[j] == "(":
            depth = 0
            while j < len(toks):
                if toks[j] == "(":
                    depth += 1
                elif toks[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
        rhs_end = j + 1
        # base keeps its width (simhash is 64-bit); shift amount must be INT
        new = (
            [fn, "(", "("] + toks[start:i]
            + [")", ",", "CAST", "(", "("]
            + toks[i + 1 : rhs_end] + [")", "AS", "INT", ")", ")"]
        )
        toks = toks[:start] + new + toks[rhs_end:]
    return toks


def _rewrite_json_arrows(toks: list[str]) -> list[str]:
    """DuckDB `expr ->> 'path'` (JSON extension text-extract operator) →
    `get_json_object(expr, '$.path')`. A bare `->` is usually the lambda
    arrow (which Spark shares) and is left alone — EXCEPT in a chain
    whose next link is another arrow (`j -> 'a' ->> 'b'`): there the
    intermediate extraction yields a JSON object/array, where
    get_json_object's text semantics and DuckDB's JSON semantics agree
    exactly. A *terminal* `-> 'k'` on a non-identifier primary raises
    (JSON-quoted scalar semantics we cannot reproduce — use ->>)."""
    # chained -> links first (left-to-right so chains fold inward-out)
    changed = True
    while changed:
        changed = False
        for i, t in enumerate(toks):
            if (t == "->" and i + 2 < len(toks) and _is_string(toks[i + 1])
                    and toks[i + 2] in ("->", "->>")):
                key = _str_val(toks[i + 1])
                path = key if key.startswith("$") else "$." + key
                start = _primary_start(toks, i)
                prim = toks[start:i]
                toks = (toks[:start]
                        + ["get_json_object", "("] + prim
                        + [",", _quote(path), ")"] + toks[i + 2 :])
                changed = True
                break
    while "->>" in toks:
        i = toks.index("->>")
        if i + 1 >= len(toks) or not _is_string(toks[i + 1]):
            raise UnsupportedSQL("->> requires a literal JSON path")
        key = _str_val(toks[i + 1])
        path = key if key.startswith("$") else "$." + key
        start = _primary_start(toks, i)
        prim = toks[start:i]
        toks = (
            toks[:start]
            + ["get_json_object", "("] + prim + [",", _quote(path), ")"]
            + toks[i + 2 :]
        )
    # terminal -> on a non-identifier primary (e.g. a ::JSON cast chain)
    # is a JSON extract we cannot reproduce faithfully — raise precisely
    # instead of letting Spark's parser fail cryptically. A bare-ident
    # LHS stays untouched: that is the lambda arrow.
    for i, t in enumerate(toks):
        if t == "->" and i + 1 < len(toks) and _is_string(toks[i + 1]):
            start = _primary_start(toks, i)
            prim = toks[start:i]
            if len(prim) != 1 or not _IDENT.match(prim[0]):
                raise UnsupportedSQL(
                    "terminal -> returns JSON-quoted scalars (no Spark "
                    "equivalent) — use ->> for text extraction"
                )
    return toks


#: DuckDB type name → Spark type name (bare names; parameterized ones pass
#: through untouched). BIT and TIME have no Spark storage type — honest raise.
_TYPE_RENAMES = {
    "varchar": "STRING",
    "json": "STRING",
    # UTC session: instants and wall times coincide
    "timestamptz": "TIMESTAMP",
    "timestamp_s": "TIMESTAMP",
    "timestamp_ms": "TIMESTAMP",
    "timestamp_ns": "TIMESTAMP",
    "blob": "BINARY",
    "ubigint": "DECIMAL(20,0)",
    # unsigned ints carried one size up; HUGEINT as max-precision decimal;
    # UUID as its canonical lowercase-hyphenated string form
    "utinyint": "SMALLINT",
    "usmallint": "INT",
    "uinteger": "BIGINT",
    "hugeint": "DECIMAL(38,0)",
    "uuid": "STRING",
}
_TYPE_UNSUPPORTED = {"time", "timetz"}

_TYPE_REFUSAL_HINTS = {
    # backstop only: cast-position TIME/TIMETZ are consumed upstream by
    # _rewrite_time_carriers (µs-BIGINT / struct<micros,offset_s>
    # carriers); a shape reaching here (e.g. parameterized TIMETZ(3))
    # still refuses loudly rather than mistranslating
    "time": "carry times as µs-since-midnight BIGINT "
            "(compat.time_of_day_micros)",
    "timetz": "carry TIME_TZ as struct<micros,offset_s> with "
              "compat.make_time_tz/time_tz_sort_key (DuckDB orders wall "
              "µs asc then offset DESC — compare via the sort key, not "
              "a raw struct compare)",
}


def _rewrite_typenames(toks: list[str]) -> list[str]:
    out: list[str] = []
    for i, t in enumerate(toks):
        low = t.lower()
        nxt = toks[i + 1] if i + 1 < len(toks) else ""
        prev = toks[i - 1].lower() if i else ""
        if low in _TYPE_RENAMES and nxt != "(" and prev in ("as", "::"):
            out.append(_TYPE_RENAMES[low])
            continue
        if low in _TYPE_UNSUPPORTED and (
            prev == "::" or (prev == "as" and _in_cast(toks, i))
        ):
            # only cast positions: `::TIME` always; `AS TIME` only inside a
            # CAST(...) — a column *aliased* `AS time` stays an alias
            raise UnsupportedSQL(
                f"type {t.upper()} has no Spark equivalent — "
                f"{_TYPE_REFUSAL_HINTS[low]}"
            )
        # anonymous ENUM casts are consumed earlier by
        # _rewrite_enum_anonymous (ordered struct<code,label> carrier)
        out.append(t)
    return out


def _in_cast(toks: list[str], i: int) -> bool:
    depth = 0
    for j in range(i, -1, -1):
        if toks[j] == ")":
            depth += 1
        elif toks[j] == "(":
            if depth == 0:
                return j > 0 and toks[j - 1].lower() in ("cast", "try_cast")
            depth -= 1
    return False


def _rewrite_hex_casts(toks: list[str]) -> list[str]:
    """`('0x' || X)::INT` — DuckDB parses hex-prefixed strings in integer
    casts; Spark's CAST returns NULL. → `CAST(conv(X, 16, 10) AS type)`."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            toks[i] == "("
            and i + 2 < len(toks)
            and _is_string(toks[i + 1])
            and _str_val(toks[i + 1]).lower() == "0x"
            and toks[i + 2] == "||"
        ):
            end = _find_call_end(toks, i)
            if end + 2 < len(toks) and toks[end + 1] == "::":
                typ = toks[end + 2]
                inner = toks[i + 3 : end]
                out.extend(
                    ["CAST", "(", "conv", "("] + inner
                    + [",", "16", ",", "10", ")", "AS", typ, ")"]
                )
                i = end + 3
                continue
        out.append(toks[i])
        i += 1
    return out


#: clause keywords that end a FROM clause at depth 0
_FROM_ENDERS = {
    "where", "group", "order", "limit", "having", "qualify", "window",
    "union", "intersect", "except",
}


def _rewrite_unnest(toks: list[str]) -> list[str]:
    """`unnest(X)` / `generate_subscripts(X, 1)` in a SELECT list →
    `LATERAL VIEW [pos]explode(X)` (the reference unnests positionally,
    duckdb-6.cpp UNNEST planning; Spark's generator equivalent).

    Handles one distinct X per SELECT scope (all occurrences must unnest
    the same expression, which is what positional alignment means);
    subqueries recurse as independent scopes."""
    # recurse into (SELECT ...) subscopes first
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "(" and i + 1 < len(toks) and toks[i + 1].lower() in ("select", "with"):
            end = _find_call_end(toks, i)
            out.extend(["("] + _rewrite_unnest(toks[i + 1 : end]) + [")"])
            i = end + 1
            continue
        out.append(t)
        i += 1
    toks = out

    # collect unnest/generate_subscripts spans in this scope
    spans: list[tuple[int, int, str]] = []  # (start, end_inclusive, kind)
    args_seen: list[str] = []
    i = 0
    while i < len(toks):
        low = toks[i].lower()
        if low in ("unnest", "generate_subscripts") and i + 1 < len(toks) and toks[i + 1] == "(":
            end = _find_call_end(toks, i + 1)
            call_args = _split_args(toks[i + 2 : end])
            if low == "generate_subscripts":
                if len(call_args) != 2 or call_args[1] != ["1"]:
                    raise UnsupportedSQL("generate_subscripts only over dim 1")
                x = " ".join(call_args[0])
            else:
                if len(call_args) != 1:
                    raise UnsupportedSQL("unnest takes one argument")
                x = " ".join(call_args[0])
            spans.append((i, end, low))
            args_seen.append(x)
            i = end + 1
            continue
        i += 1
    if not spans:
        return toks
    zip_mode = len(set(args_seen)) > 1
    if zip_mode and any(k == "generate_subscripts" for _, _, k in spans):
        raise UnsupportedSQL(
            "generate_subscripts mixed with multi-argument unnest"
        )
    need_pos = any(k == "generate_subscripts" for _, _, k in spans)

    if zip_mode:
        # parallel unnest zips positionally, padding shorter lists with
        # NULL (DuckDB semantics): explode an index spine over the
        # longest list, then element_at each source (NULL out-of-bounds)
        uniq = list(dict.fromkeys(args_seen))
        longest = "greatest(" + ", ".join(f"size(({a}))" for a in uniq) + ")"
        x_toks = _tokens(
            f"slice(sequence(1, greatest({longest}, 1)), 1, "
            f"CAST({longest} AS INT))"
        )
        # spans and args_seen are parallel lists
        for (start, end, kind), arg in reversed(list(zip(spans, args_seen))):
            repl = _tokens(f"element_at(({arg}), CAST(__qs_un AS INT))")
            toks = toks[:start] + repl + toks[end + 1 :]
    else:
        x_toks = _tokens(args_seen[0])
        # replace spans (right-to-left keeps indexes valid)
        for start, end, kind in reversed(spans):
            repl = (
                ["(", "__qs_pos", "+", "1", ")"]
                if kind == "generate_subscripts"
                else ["__qs_un"]
            )
            toks = toks[:start] + repl + toks[end + 1 :]

    # insert LATERAL VIEW at the end of the top-level FROM clause
    depth = 0
    from_idx = -1
    insert_at = len(toks)
    for i, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            low = t.lower()
            if low == "from":
                from_idx = i
            elif from_idx >= 0 and low in _FROM_ENDERS:
                insert_at = i
                break
    if from_idx < 0:
        # FROM-less `SELECT unnest([...])`: Spark allows a bare
        # generator in the select list — synthesize a one-row FROM and
        # lateral-view off it so aliases/ordering still work
        toks = toks + ["FROM", "(", "SELECT", "1", ")", "__qs_one"]
        insert_at = len(toks)
    gen = ["posexplode"] if need_pos else ["explode"]
    names = ["__qs_pos", ",", "__qs_un"] if need_pos else ["__qs_un"]
    lateral = (
        ["LATERAL", "VIEW"] + gen + ["("] + x_toks + [")"]
        + ["__qs_t", "AS"] + names
    )
    return toks[:insert_at] + lateral + toks[insert_at:]


def _time_carrier_toks(x: str) -> list[str]:
    """µs-since-midnight carrier of `CAST(x AS TIME)` (LogicalTypeId TIME
    duckdb.hpp:914; == DuckDB ``epoch_us(CAST(x AS TIME))``). The wall
    value is pinned via TIMESTAMP_NTZ and decomposed into components —
    NEVER via ``unix_micros(t) - unix_micros(midnight)``, which measures
    ELAPSED session time and reads 11:00 for noon on spring-forward days
    in DST session zones (ADVICE r8 #1; the bare parity config runs
    America/New_York). The second TRY_CAST leg covers bare 'HH:MM:SS'
    strings, which Spark refuses to cast to NTZ directly but fills with
    the current date on the TIMESTAMP path (instant→NTZ then restores the
    session wall, so the added day part still cancels); failures are
    NULL, the engine's documented non-ANSI null-on-error posture. The
    nested transform-over-1-array binds x ONCE (no double evaluation of
    nondeterministic inputs) and the NTZ wall once."""
    # element_at(…, 1), not [0]: a bare subscript emitted into the
    # token stream is re-interpreted by the 1-based subscript pass when
    # this runs before it, and element_at survives every later pass
    return _tokens(
        f"element_at(transform(transform(array(({x})), "
        f"qs_x -> coalesce(TRY_CAST(qs_x AS TIMESTAMP_NTZ), "
        f"CAST(TRY_CAST(qs_x AS TIMESTAMP) AS TIMESTAMP_NTZ))), "
        f"qs_t -> CAST(hour(qs_t) AS BIGINT) * 3600000000 "
        f"+ CAST(minute(qs_t) AS BIGINT) * 60000000 "
        f"+ CAST(second(qs_t) AS BIGINT) * 1000000 "
        f"+ CAST(date_format(qs_t, 'SSSSSS') AS BIGINT)), 1)"
    )


def _timetz_carrier_toks(x: str) -> list[str]:
    """struct<micros,offset_s> carrier of `CAST(x AS TIMETZ)`
    (LogicalTypeId TIME_TZ duckdb.hpp:931; compat.make_time_tz is the
    DataFrame face of the same carrier — closes the last refused §1.2
    cast, VERDICT r8 next #6). Semantics re-pinned live against DuckDB
    1.0 this round (ADVICE r9 #1): a trailing ±HH[:MM[:SS]] counts as an
    explicit offset only when a ':' (a time component) precedes it — so
    a bare date string '2024-01-01' is NOT '2024-01' plus offset -01 but
    00:00:00 at the session offset; a string without an explicit offset
    (bare time, bare date, or full datetime) gets the session-tz offset
    AT NOW (verified: '2024-01-15 10:30:00' in an America/New_York
    August session is 10:30:00-04:00, not the parsed instant's -05:00);
    a date-AND-offset string is parsed as an instant and rendered as its
    UTC wall time with the session-now offset (verified:
    '2024-01-15 10:30:00+05' → 05:30:00-04:00 in NY, 05:30:00+00 in
    UTC); a typed timestamp gets +00 with its wall time-of-day (checked
    BEFORE the offset branch, per the advice); a typed DATE is NULL
    (DuckDB refuses DATE→TIMETZ — 'Unimplemented type for cast' — and
    NULL is the engine's documented null-on-error posture, = DuckDB's
    TRY_CAST). Wall µs are decomposed from the TIMESTAMP_NTZ components
    (the same DST-proof form as _time_carrier_toks). Unparseable inputs
    are NULL (DuckDB's freak '24:00:00' TIMETZ is also NULL here — Spark
    has no 24:00 wall value). The QS__ prefixes shield the Spark-native
    regexp/typeof calls from _emit_call's DuckDB-semantics
    translations."""
    # single backslashes here: _escape_spark_literal doubles them at emit
    # time, and Spark's literal parser undoes that back to \d for RE2.
    # Group 1 = everything before the offset (kept by the $1 strip);
    # the leading `.*:.*?` is the ':'-precedes guard; group 2 = offset.
    off_re = r"^(.*:.*?)([+-]\d{2}(:\d{2}){0,2})\s*$"
    s = "CAST(qs_x AS STRING)"
    stripped = f"QS__regexp_replace({s}, '{off_re}', '$1')"
    ntz = "coalesce(TRY_CAST({v} AS TIMESTAMP_NTZ), " \
          "CAST(TRY_CAST({v} AS TIMESTAMP) AS TIMESTAMP_NTZ))"
    # a string is the date+offset shape iff the offset matched AND the
    # stripped remainder parses on the NTZ (date-bearing) leg
    dated_off = (
        f"QS__regexp_extract({s}, '{off_re}', 2) <> '' "
        f"AND TRY_CAST({stripped} AS TIMESTAMP_NTZ) IS NOT NULL"
    )
    return _tokens(
        f"element_at(transform(transform(array(({x})), "
        f"qs_x -> named_struct("
        f"'qs_w', CASE "
        f"WHEN QS__typeof(qs_x) = 'date' THEN NULL "
        f"WHEN QS__typeof(qs_x) IN ('timestamp', 'timestamp_ntz') "
        f"THEN {ntz.format(v=s)} "
        f"WHEN {dated_off} "
        f"THEN convert_timezone('UTC', "
        f"CAST(TRY_CAST({s} AS TIMESTAMP) AS TIMESTAMP_NTZ)) "
        f"ELSE {ntz.format(v=stripped)} END, "
        f"'qs_o', CASE WHEN QS__typeof(qs_x) IN "
        f"('timestamp', 'timestamp_ntz', 'date') THEN '' "
        f"WHEN {dated_off} THEN '' "
        f"ELSE QS__regexp_extract({s}, '{off_re}', 2) END, "
        f"'qs_z', QS__typeof(qs_x) IN ('timestamp', 'timestamp_ntz'))), "
        f"qs_p -> IF(qs_p.qs_w IS NULL, NULL, named_struct("
        f"'micros', CAST(hour(qs_p.qs_w) AS BIGINT) * 3600000000 "
        f"+ CAST(minute(qs_p.qs_w) AS BIGINT) * 60000000 "
        f"+ CAST(second(qs_p.qs_w) AS BIGINT) * 1000000 "
        f"+ CAST(date_format(qs_p.qs_w, 'SSSSSS') AS BIGINT), "
        f"'offset_s', CAST(CASE "
        f"WHEN qs_p.qs_z THEN 0 "
        f"WHEN qs_p.qs_o <> '' THEN "
        f"(CASE WHEN substr(qs_p.qs_o, 1, 1) = '-' THEN -1 ELSE 1 END) * "
        f"(CAST(try_element_at(split(substr(qs_p.qs_o, 2), ':'), 1) "
        f"AS INT) * 3600 "
        f"+ coalesce(CAST(try_element_at(split(substr(qs_p.qs_o, 2), ':'), "
        f"2) AS INT), 0) * 60 "
        f"+ coalesce(CAST(try_element_at(split(substr(qs_p.qs_o, 2), ':'), "
        f"3) AS INT), 0)) "
        f"ELSE timestampdiff(SECOND, "
        f"convert_timezone('UTC', localtimestamp()), localtimestamp()) "
        f"END AS INT)))), 1)"
    )


def _refuse_carriers_in_values(toks: list[str]) -> None:
    """Honest typed refusal (r10): a TIME/TIMETZ CAST carrier inside an
    inline VALUES row. Spark inline tables accept only foldable
    expressions, and the carriers are transform-chains — letting them
    through dies later with an opaque INVALID_INLINE_TABLE (this
    surfaced when r9's TIMETZ-cast support stopped the type-name pass
    from refusing these shapes first). TIME/TIMETZ LITERALS in VALUES
    are fine — _rewrite_time_literals folds them to plain carriers
    before this pass; only the cast-carrier lambda (its ``qs_x``
    binder) is unfoldable."""
    i = 0
    n = len(toks)
    while i < n:
        if toks[i].lower() == "values" and i + 1 < n and toks[i + 1] == "(":
            j_ = i + 1
            while j_ < n and toks[j_] == "(":  # row after row
                end = _find_call_end(toks, j_)
                if "qs_x" in toks[j_:end]:
                    raise UnsupportedSQL(
                        "CAST(… AS TIME/TIMETZ) inside an inline VALUES"
                        " row: Spark inline tables take only foldable"
                        " expressions — use TIME/TIMETZ literals in"
                        " VALUES, or hoist the cast into a SELECT over"
                        " the VALUES"
                    )
                j_ = end + 1
                if j_ < n and toks[j_] == ",":
                    j_ += 1
            i = j_
            continue
        i += 1


def _rewrite_time_carriers(toks: list[str]) -> list[str]:
    """TIME-typed expressions in their µs-since-midnight carrier form
    (functions/compat.time_of_day_micros — Spark has no TimeType):
    `CAST(x AS TIME)` / `x::TIME` in ANY expression position → the
    carrier (closing VERDICT r7 missing #1 — previously only the
    epoch_us-wrapped form was handled and the bare cast refused),
    `epoch_us(CAST(x AS TIME))` → the same carrier (epoch_us of a TIME
    is its physical µs value), `epoch_us(make_time(h, m, s))` → h/m/s µs
    arithmetic, and (r9) `CAST(x AS TIMETZ)` / `x::TIMETZ` → the
    struct<micros,offset_s> carrier (_timetz_carrier_toks). Runs before
    the type-name pass so the consumed TIME/TIMETZ casts never reach its
    honest raise (now a backstop for unconsumed shapes only)."""
    # normalize postfix `x :: TIME` / `x :: TIMETZ` to CAST form first so
    # every branch below (incl. epoch_us-of-cast) sees one spelling
    norm: list[str] = []
    i = 0
    while i < len(toks):
        if (
            toks[i] == "::"
            and i + 1 < len(toks)
            and toks[i + 1].lower() in ("time", "timetz")
        ):
            # 4-token postfix spelling `x::TIME WITH TIME ZONE` (valid
            # DuckDB; previously left dangling WITH TIME ZONE tokens and
            # raised PARSE_SYNTAX_ERROR — ADVICE r9 #2), mirroring the
            # CAST-form branch at the consumption site below
            name, width = toks[i + 1].lower(), 2
            if name == "time" and [
                t.lower() for t in toks[i + 2 : i + 5]
            ] == ["with", "time", "zone"]:
                name, width = "timetz", 5
            start = _primary_start(norm, len(norm))
            expr = norm[start:]
            del norm[start:]
            norm.extend(["CAST", "("] + expr + ["AS", name, ")"])
            i += width
            continue
        norm.append(toks[i])
        i += 1
    toks = norm
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            toks[i].lower() in ("cast", "try_cast")
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            end = _find_call_end(toks, i + 1)
            if (
                end >= i + 4
                and toks[end - 1].lower() == "time"
                and toks[end - 2].lower() == "as"
            ):
                x = " ".join(_rewrite_time_carriers(toks[i + 2 : end - 2]))
                _retarget_time_extraction(out)
                out.extend(_time_carrier_toks(x))
                i = end + 1
                continue
            if (
                end >= i + 4
                and toks[end - 1].lower() == "timetz"
                and toks[end - 2].lower() == "as"
            ):
                x = " ".join(_rewrite_time_carriers(toks[i + 2 : end - 2]))
                out.extend(_timetz_carrier_toks(x))
                i = end + 1
                continue
            if (
                end >= i + 7
                and [t.lower() for t in toks[end - 4 : end]]
                == ["time", "with", "time", "zone"]
                and toks[end - 5].lower() == "as"
            ):
                x = " ".join(_rewrite_time_carriers(toks[i + 2 : end - 5]))
                out.extend(_timetz_carrier_toks(x))
                i = end + 1
                continue
        if (
            toks[i].lower() == "epoch_us"
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            end = _find_call_end(toks, i + 1)
            inner = toks[i + 2 : end]
            low = [t.lower() for t in inner]
            if (
                len(low) > 5
                and low[0] in ("cast", "try_cast")
                and low[-3:] == ["as", "time", ")"]
                and _find_call_end(inner, 1) == len(inner) - 1
            ):
                x = " ".join(_rewrite_time_carriers(inner[2:-3]))
                out.extend(_time_carrier_toks(x))
                i = end + 1
                continue
            if (
                low
                and low[0] == "make_time"
                and inner[1] == "("
                and _find_call_end(inner, 1) == len(inner) - 1
            ):
                h, m_, s = (
                    " ".join(a) for a in _split_args(inner[2:-1])
                )
                out.extend(
                    _tokens(
                        f"(CAST(({h}) AS BIGINT) * 3600000000"
                        f" + CAST(({m_}) AS BIGINT) * 60000000"
                        f" + CAST(round(CAST(({s}) AS DOUBLE) * 1000000) AS BIGINT))"
                    )
                )
                i = end + 1
                continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_from_table_fns(toks: list[str]) -> list[str]:
    """`FROM range(...)` / `FROM generate_series(...)` → Spark's native
    distributed `range` TVF (a materialized sequence array would be a
    driver-scale bomb at range(0, 1e10)): DuckDB range is end-exclusive like
    Spark's; generate_series is end-inclusive → end+1 (positive steps)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        low = toks[i + 1].lower() if i + 1 < len(toks) else ""
        if (
            t.lower() in ("from", "join")
            and low in ("range", "generate_series")
            and i + 2 < len(toks)
            and toks[i + 2] == "("
        ):
            end = _find_call_end(toks, i + 2)
            args = _split_args(toks[i + 3 : end])
            if any(
                x.lower() in ("timestamp", "date", "interval")
                for a in args
                for x in a
            ):
                # temporal series: Spark sequence() is inclusive like
                # generate_series; explode keeps it distributed enough
                # (series sizes are window counts, not fact tables)
                inner2 = [x for a in args[:-1] for x in a + [","]] + args[-1]
                out.extend(
                    [t, "(", "SELECT", "explode", "(", "sequence", "("]
                    + inner2 + [")", ")", "AS", low, ")"]
                )
                i = end + 1
                continue
            if low == "generate_series":
                if len(args) == 1:
                    args = [["0"], args[0]]
                args[1] = ["("] + args[1] + [")", "+", "1"]
            elif len(args) == 1:
                args = [["0"], args[0]]
            inner = [x for a in args[:-1] for x in a + [","]] + args[-1]
            # RANGE__TVF survives _rewrite_calls (which turns expression-
            # position range() into a sequence slice) and re-emits as the
            # native distributed TVF
            out.extend(
                [t, "(", "SELECT", "id", "AS", low, "FROM", "RANGE__TVF", "("]
                + inner + [")", ")"]
            )
            i = end + 1
            continue
        out.append(t)
        i += 1
    return out


def _rewrite_group_aliases(toks: list[str]) -> list[str]:
    """Inline select-list aliases referenced inside GROUP BY
    ROLLUP/CUBE/GROUPING SETS and in grouping(...) calls — DuckDB resolves
    them (Postgres grammar), Spark's grouping analysis does not."""
    items = _select_items(toks)
    if not items:
        return toks
    aliases: dict[str, list[str]] = {}
    for item in items:
        if len(item) >= 3 and item[-2].lower() == "as" and _IDENT.match(item[-1]):
            aliases[item[-1].lower()] = item[:-2]
    if not aliases:
        return toks

    def sub(span: list[str]) -> list[str]:
        new: list[str] = []
        for k, tk in enumerate(span):
            prev = span[k - 1] if k else ""
            nxt = span[k + 1] if k + 1 < len(span) else ""
            if tk.lower() in aliases and prev != "." and nxt not in (".", "("):
                new.extend(["("] + aliases[tk.lower()] + [")"])
            else:
                new.append(tk)
        return new

    out = list(toks)
    i = 0
    while i < len(out):
        low = out[i].lower()
        if (
            low in ("rollup", "cube", "grouping", "sets")
            and i + 1 < len(out)
            and out[i + 1] == "("
        ):
            end = _find_call_end(out, i + 1)
            new_seg = sub(out[i + 2 : end])
            out = out[: i + 2] + new_seg + out[end:]
            i = i + 2 + len(new_seg) + 1
            continue
        i += 1
    return out


def _rewrite_using_sample(toks: list[str]) -> list[str]:
    """`USING SAMPLE n ROWS | n% | bernoulli(n%) | system(n%) |
    reservoir(n)` (reference sample clause, SampleMethod duckdb.hpp:20017)
    → Spark `TABLESAMPLE (n ROWS | n PERCENT)`. Sampling is inherently
    nondeterministic across engines — row-level results are rows-only
    territory; the rewrite preserves the method's cardinality semantics."""
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        if (
            toks[i].lower() == "using"
            and i + 1 < n
            and toks[i + 1].lower() == "sample"
        ) or (
            # DuckDB also accepts its methods (and the bare `10%` / `10
            # PERCENT` / `10 ROWS` forms) in TABLESAMPLE position
            toks[i].lower() == "tablesample"
            and i + 1 < n
            and (
                toks[i + 1].lower() in ("bernoulli", "system", "reservoir")
                or re.fullmatch(r"\d+(?:\.\d*)?", toks[i + 1])
            )
        ):
            j = i + 2 if toks[i].lower() == "using" else i + 1
            method = None
            if j < n and toks[j].lower() in ("bernoulli", "system", "reservoir"):
                method = toks[j].lower()
                if j + 1 < n and toks[j + 1] == "(":
                    j += 2
                else:
                    raise UnsupportedSQL("USING SAMPLE method needs (arg)")
            if j >= n or not re.fullmatch(r"\d+(?:\.\d*)?", toks[j]):
                raise UnsupportedSQL("USING SAMPLE requires a numeric size")
            amount = toks[j]
            j += 1
            unit = "ROWS" if method == "reservoir" else None
            if j < n and toks[j] == "%":
                unit = "PERCENT"
                j += 1
            elif j < n and toks[j].lower() in ("percent", "rows"):
                unit = toks[j].upper()
                j += 1
            if method in ("bernoulli", "system"):
                unit = unit or "PERCENT"
            if unit is None:  # bare `USING SAMPLE 10` = 10 rows in DuckDB
                unit = "ROWS"
            if method is not None:
                if j < n and toks[j] == ")":
                    j += 1
                else:
                    raise UnsupportedSQL("unterminated USING SAMPLE method")
            out += ["TABLESAMPLE", "(", amount, unit, ")"]
            i = j
            continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_distinct_on(sql: str) -> str:
    m = re.search(r"\bSELECT\s+DISTINCT\s+ON\s*\(", sql, re.IGNORECASE)
    if not m:
        return sql
    toks = _tokens(sql)
    # locate DISTINCT ON ( ... )
    for i in range(len(toks) - 2):
        if (
            toks[i].lower() == "distinct"
            and toks[i + 1].lower() == "on"
            and toks[i + 2] == "("
        ):
            end = _find_call_end(toks, i + 2)
            keys = " ".join(toks[i + 3 : end])
            rest = toks[end + 1 :]
            # split rest at top-level ORDER BY, then peel trailing
            # LIMIT/OFFSET off whichever side they landed on (ADVICE r1:
            # they must apply AFTER dedup, outside the window spec)
            order = None
            depth = 0
            for k in range(len(rest) - 1):
                if rest[k] == "(":
                    depth += 1
                elif rest[k] == ")":
                    depth -= 1
                elif (
                    depth == 0
                    and rest[k].lower() == "order"
                    and rest[k + 1].lower() == "by"
                ):
                    order = rest[k + 2 :]
                    rest = rest[:k]
                    break
            tail: list[str] = []
            if order is not None:
                order, tail = _peel_limit_offset(order)
            else:
                rest, tail = _peel_limit_offset(rest)
            body = " ".join(rest)
            ord_clause = " ".join(order) if order else keys
            # DuckDB defines row order by the same ORDER BY that ranks the
            # window — re-state it as an outer ORDER BY so output order
            # matches (the window ORDER BY alone orders nothing).
            outer_order = f" ORDER BY {ord_clause}" if order else ""
            outer_tail = (" " + " ".join(tail)) if tail else ""
            # body is "cols FROM tbl WHERE ..." — rank over the SOURCE
            # (keys / order columns need not appear in the select list,
            # DuckDB binds them against the FROM scope), then project
            depth2 = 0
            from_at = -1
            for k, t2 in enumerate(rest):
                if t2 == "(":
                    depth2 += 1
                elif t2 == ")":
                    depth2 -= 1
                elif depth2 == 0 and t2.lower() == "from":
                    from_at = k
                    break
            if from_at >= 0:
                cols = " ".join(rest[:from_at])
                if cols.strip() == "*":
                    cols = "* EXCEPT (__rn)"
                src = " ".join(rest[from_at + 1 :])
                return (
                    f"SELECT {cols} FROM (SELECT *, row_number() OVER "
                    f"(PARTITION BY {keys} ORDER BY {ord_clause}) AS __rn "
                    f"FROM {src}) __d WHERE __rn = 1"
                    f"{outer_order}{outer_tail}"
                )
            body = " ".join(rest)
            return (
                f"SELECT * EXCEPT (__rn) FROM (SELECT *, row_number() OVER "
                f"(PARTITION BY {keys} ORDER BY {ord_clause}) AS __rn "
                f"FROM (SELECT {body}) __d) WHERE __rn = 1"
                f"{outer_order}{outer_tail}"
            )
    return sql


def _peel_limit_offset(toks: list[str]) -> tuple[list[str], list[str]]:
    """Split trailing top-level LIMIT/OFFSET clauses off a token span."""
    depth = 0
    for k, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t.lower() in ("limit", "offset"):
            return toks[:k], toks[k:]
    return toks, []


def _strip_trailing_commas(toks: list[str]) -> list[str]:
    """DuckDB tolerates trailing commas in SELECT/GROUP BY/ORDER BY lists
    (friendly-SQL extension); Spark rejects them — drop a comma whose next
    token closes the list."""
    out: list[str] = []
    for i, t in enumerate(toks):
        if t == ",":
            nxt = toks[i + 1].lower() if i + 1 < len(toks) else ""
            if nxt in ("from", "where", "group", "order", "having",
                       "limit", "window", ")", ""):
                continue
        out.append(t)
    return out


#: length-family functions whose BIT-typed overloads count BITS of the
#: '0'/'1' carrier, not bytes of a VARCHAR (oracle:
#: bit_length('1010'::BIT)=4, bit_count('1011'::BIT)=3,
#: octet_length('1010'::BIT)=1) — retargeted onto carrier arithmetic
#: markers when a BIT cast is erased directly inside them
_BIT_LEN_FNS = {
    "bit_length": "__qs_bitlen",
    "bit_count": "__qs_bitcount",
    "octet_length": "__qs_bitoctet",
}


def _retarget_bit_length(out: list[str]) -> None:
    p = _enclosing_call_name(out)
    if p is not None and out[p].lower() in _BIT_LEN_FNS:
        out[p] = _BIT_LEN_FNS[out[p].lower()]


def _rewrite_bit_casts(toks: list[str]) -> list[str]:
    """BIT emulation (reference type duckdb.hpp:932): the Spark carrier is
    the '0'/'1' string itself, so `CAST(x AS BIT)` / `x::BIT` become
    identity — get_bit/set_bit/bit_position then operate on the string
    (translated in _emit_call_extra, mirroring duckdb-6.cpp:5993-6040)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "::" and i + 1 < len(toks) and toks[i + 1].lower() == "bit":
            _retarget_bit_length(out)
            i += 2
            continue
        if t == "::" and i + 1 < len(toks) and toks[i + 1].lower() == "uuid":
            # UUID canonicalizes to lowercase in DuckDB; string carrier
            # must match — wrap the left primary in lower(CAST(.. AS STRING))
            start = _primary_start(out, len(out))
            prim = out[start:]
            del out[start:]
            out.extend(
                ["lower", "(", "CAST", "(", *prim, "AS", "STRING", ")", ")"]
            )
            i += 2
            continue
        if t.lower() in ("cast", "try_cast") and i + 1 < len(toks) and toks[i + 1] == "(":
            end = _find_call_end(toks, i + 1)
            if end - 2 >= 0 and toks[end - 2].lower() == "as":
                typ = toks[end - 1].lower()
                if typ == "bit":
                    _retarget_bit_length(out)
                    out.extend(["("] + _rewrite_bit_casts(toks[i + 2 : end - 2]) + [")"])
                    i = end + 1
                    continue
                if typ == "uuid":
                    inner = _rewrite_bit_casts(toks[i + 2 : end - 2])
                    out.extend(
                        ["lower", "(", "CAST", "(", *inner, "AS", "STRING", ")", ")"]
                    )
                    i = end + 1
                    continue
        out.append(t)
        i += 1
    return out


def _rewrite_limit_percent(toks: list[str], spark: SparkSession | None) -> list[str]:
    """LIMIT n PERCENT (reference LIMIT_PERCENT operator duckdb-3.cpp:12535):
    no single-pass Spark form exists, so do what the reference does —
    count the child, then emit floor(count * n / 100) rows (floor verified
    against DuckDB: 0.15% of 1000 → 1 row). The count pass is a
    parquet-metadata count-star when the child is a bare scan; the
    rewritten LIMIT keeps Spark's TakeOrderedAndProject plan
    (queries/maths.misc_limit_percent is the DataFrame twin)."""
    while True:
        hit = None
        for k, t in enumerate(toks):
            if t.lower() == "percent" and k >= 2 and toks[k - 2].lower() == "limit":
                hit = k
                break
        if hit is None:
            return toks
        if spark is None:
            raise UnsupportedSQL(
                "LIMIT n PERCENT needs a live session for the count pass"
            )
        pct = float(toks[hit - 1])
        # enclosing query block: back to the unmatched '(' (or stmt start)
        depth = 0
        start = 0
        for j in range(hit - 3, -1, -1):
            if toks[j] == ")":
                depth += 1
            elif toks[j] == "(":
                if depth == 0:
                    start = j + 1
                    break
                depth -= 1
        child_sql = " ".join(toks[start : hit - 2])
        n_child = spark.sql(transpile(child_sql, spark)).count()
        n = int(n_child * pct / 100.0)
        toks = toks[: hit - 1] + [str(n)] + toks[hit + 1 :]


def _rewrite_current_setting(
    toks: list[str], spark: SparkSession | None
) -> list[str]:
    """`current_setting('key')` (reference settings surface,
    duckdb-7.cpp PragmaStatement) → the session-conf value inlined as a
    string literal at transpile time (settings are bind-time constants
    in the reference too)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (toks[i].lower() == "current_setting" and i + 3 < len(toks)
                and toks[i + 1] == "(" and _is_string(toks[i + 2])
                and toks[i + 3] == ")"):
            if spark is None:
                raise UnsupportedSQL("current_setting needs a live session")
            key = _str_val(toks[i + 2])
            # DuckDB setting names map onto the session's equivalents
            # (threads is a BIGINT in the reference — inline unquoted)
            kl = key.lower()
            if kl == "threads":
                out.append(str(spark.sparkContext.defaultParallelism))
                i += 4
                continue
            if kl in ("timezone", "time_zone"):
                key = "spark.sql.session.timeZone"
            try:
                val = spark.conf.get(key)
            except Exception:
                val = None
            out.append(_quote(str(val)) if val is not None else "NULL")
            i += 4
            continue
        out.append(toks[i])
        i += 1
    return out


def _columns_matcher(inner: list[str]):
    """Parse the inside of a COLUMNS(...) call into a name-predicate
    callable.  Forms (reference parser: star expression with a COLUMNS
    wrapper): 'regex' (re.search semantics — COLUMNS('key') matches
    n_nationkey, verified vs the oracle), `*`, `* EXCLUDE (cols)`, and the
    lambda form `c -> <name predicate>` with LIKE / NOT LIKE / = / !=."""
    if len(inner) == 1 and _is_string(inner[0]):
        pat = _str_val(inner[0])
        return lambda c, pat=pat: re.search(pat, c) is not None
    if len(inner) == 1 and inner[0] == "*":
        return lambda c: True
    if len(inner) >= 2 and inner[0] == "*" and inner[1].lower() == "exclude":
        if len(inner) >= 3 and inner[2] == "(":
            names = [e[0] for e in _split_args(inner[3:-1]) if e]
        else:
            names = [inner[2]] if len(inner) >= 3 else []
        if not names or any(not _IDENT.match(n) for n in names):
            raise UnsupportedSQL("COLUMNS(* EXCLUDE ...) needs column names")
        excl = {n.lower() for n in names}
        return lambda c, excl=excl: c.lower() not in excl
    if len(inner) >= 3 and _IDENT.match(inner[0]) and inner[1] == "->":
        pred = inner[2:]
        low_p = [x.lower() for x in pred]
        v = inner[0].lower()

        def _like_re(p: str) -> str:
            return "^" + re.escape(p).replace("%", ".*").replace("_", ".") + "$"

        if (len(pred) == 3 and low_p[0] == v and low_p[1] == "like"
                and _is_string(pred[2])):
            rx = _like_re(_str_val(pred[2]))
            return lambda c, rx=rx: re.search(rx, c) is not None
        if (len(pred) == 4 and low_p[0] == v
                and low_p[1:3] == ["not", "like"] and _is_string(pred[3])):
            rx = _like_re(_str_val(pred[3]))
            return lambda c, rx=rx: re.search(rx, c) is None
        if (len(pred) == 3 and low_p[0] == v and pred[1] == "="
                and _is_string(pred[2])):
            name = _str_val(pred[2])
            return lambda c, name=name: c == name
        if (len(pred) == 3 and low_p[0] == v and pred[1] in ("!=", "<>")
                and _is_string(pred[2])):
            name = _str_val(pred[2])
            return lambda c, name=name: c != name
        raise UnsupportedSQL(
            "COLUMNS(lambda): only LIKE / NOT LIKE / = / != "
            "name predicates are evaluable at transpile time"
        )
    raise UnsupportedSQL(
        "COLUMNS(...) supports 'regex', *, * EXCLUDE (...), or a "
        "name-predicate lambda"
    )


_SELECT_CLAUSE_KW = frozenset(
    "from where group having order limit qualify window offset".split()
)


def _select_item_bounds(toks: list[str], i: int) -> tuple[int, int, int] | None:
    """Bounds of the select-list item containing token position ``i``:
    (start, end, base) with toks[start:end] the item and ``base`` the paren
    depth of the enclosing select list relative to position i (<= 0).
    Returns None when i does not sit in a select list (e.g. WHERE)."""
    # backward: the enclosing SELECT is the first `select` token seen at the
    # running minimum depth (inner subqueries re-balance above the minimum)
    d = 0
    mind = 0
    events: list[tuple[int, int, str]] = []
    j = i - 1
    sel = None
    while j >= 0:
        t = toks[j]
        tl = t.lower()
        if t == ")":
            d += 1
        elif t == "(":
            d -= 1
            mind = min(mind, d)
        elif tl == "select":
            if d == mind:
                sel = j
                break
        elif tl == "," or tl in _SELECT_CLAUSE_KW:
            events.append((j, d, tl))
        j -= 1
    if sel is None:
        return None
    base = mind
    at_base = [e for e in events if e[1] == base]
    if at_base:
        pos, _, kind = max(at_base, key=lambda e: e[0])
        if kind != ",":
            return None  # i sits in a clause after the select list
        start = pos + 1
    else:
        start = sel + 1
        if start < i and toks[start].lower() in ("distinct", "all"):
            start += 1
    # forward: item ends at the first `,` / FROM / clause keyword at base
    d = 0
    k = i
    end = None
    while k < len(toks):
        t = toks[k]
        tl = t.lower()
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
            if d < base:
                break
        elif d == base and (tl == "," or tl in _SELECT_CLAUSE_KW or tl in (
            "union", "intersect", ";",
        ) or (tl == "except" and toks[k - 1] != "*")):
            end = k
            break
        k += 1
    if end is None:
        end = k
    return start, end, base


def _columns_from_table(
    toks: list[str], i: int, base: int, spark: SparkSession
) -> list[str]:
    """Column list of the single plain FROM table of the query block whose
    select list (at relative depth ``base``) contains position ``i``."""
    d = 0
    table = None
    for k in range(i, len(toks)):
        t = toks[k]
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
            if d < base:
                break
        elif d == base and t.lower() == "from":
            cand = toks[k + 1] if k + 1 < len(toks) else ""
            if _IDENT.match(cand) and cand.lower() not in _FROM_STOP_KW:
                table = cand
            break
    if table is None:
        raise UnsupportedSQL(
            "COLUMNS(...) supported only over a plain FROM table"
        )
    if table.lower() in _cte_shadow_names(toks):
        raise UnsupportedSQL(
            f"COLUMNS(...) over CTE {table}: schema not statically "
            f"resolvable (a WITH clause shadows the catalog name)"
        )
    try:
        return spark.table(table).columns
    except Exception:
        raise UnsupportedSQL(f"COLUMNS(...): unknown table {table}")


def _rewrite_columns_expr(toks: list[str], spark: SparkSession | None) -> list[str]:
    """COLUMNS(...) star-expression (DuckDB friendly SQL): replicate the
    ENCLOSING select-list item once per matched column of the single plain
    table/view after FROM — `min(COLUMNS('[ab]'))` → `min(a) AS a, min(b)
    AS b` (output columns named after the matched column, like the
    reference; an explicit `AS x` on the item keeps the user alias on every
    replica).  Multiple COLUMNS calls in one item replicate in lockstep and
    must match the same column set."""
    guard = 0
    while True:
        guard += 1
        if guard > 200:
            raise UnsupportedSQL("COLUMNS(...) expansion did not converge")
        pos = None
        for i in range(len(toks) - 1):
            if (
                toks[i].lower() == "columns"
                and toks[i + 1] == "("
                and (i == 0 or toks[i - 1] != ".")
            ):
                pos = i
                break
        if pos is None:
            return toks
        if spark is None:
            raise UnsupportedSQL("COLUMNS(...) needs a live session")
        bounds = _select_item_bounds(toks, pos)
        if bounds is None:
            raise UnsupportedSQL(
                "COLUMNS(...) outside a select list is unsupported"
            )
        start, end, base = bounds
        cols = _columns_from_table(toks, pos, base, spark)
        # every COLUMNS(...) span inside the item
        spans: list[tuple[int, int]] = []
        matched: list[str] | None = None
        k = start
        while k < end - 1:
            if toks[k].lower() == "columns" and toks[k + 1] == "(" and (
                k == 0 or toks[k - 1] != "."
            ):
                close = _find_call_end(toks, k + 1)
                m = _columns_matcher(toks[k + 2 : close])
                got = [c for c in cols if m(c)]
                if matched is None:
                    matched = got
                elif matched != got:
                    raise UnsupportedSQL(
                        "multiple COLUMNS(...) in one expression must "
                        "match the same column set"
                    )
                spans.append((k, close))
                k = close + 1
                continue
            k += 1
        if not matched:
            raise UnsupportedSQL("COLUMNS(...) matched no columns")
        bare = len(spans) == 1 and spans[0] == (start, end - 1)
        explicit_alias = (
            end - 2 > spans[-1][1]
            and toks[end - 2].lower() == "as"
            and (_IDENT.match(toks[end - 1]) or toks[end - 1].startswith("`"))
        )
        new_item: list[str] = []
        for n_, c in enumerate(matched):
            if n_:
                new_item.append(",")
            last = start
            for s, e in spans:
                new_item.extend(toks[last:s])
                new_item.append(_bq(c))
                last = e + 1
            new_item.extend(toks[last:end])
            if not bare and not explicit_alias:
                new_item.extend(["AS", _bq(c)])
        toks = toks[:start] + new_item + toks[end:]


_ASOF_INEQ = {">=": "DESC", ">": "DESC", "<=": "ASC", "<": "ASC"}


def _rewrite_asof(sql: str) -> str:
    """ASOF [LEFT] JOIN (reference: AsOfRef / PhysicalAsOfJoin — SQL surface
    of the DataFrame operator in queries/joins.join_asof_*): rewritten to a
    regular join + per-left-row best-match window:

        SELECT items FROM L l ASOF JOIN R r ON eq AND l.ts >= r.ts [rest]
        →
        SELECT * EXCEPT (__qs_rn) FROM (
          SELECT items, row_number() OVER (
              PARTITION BY l.__qs_rid ORDER BY r.ts DESC) AS __qs_rn
          FROM (SELECT *, monotonically_increasing_id() AS __qs_rid FROM L) l
               JOIN R r ON eq AND l.ts >= r.ts
        ) WHERE __qs_rn = 1 [rest]

    Scale posture: the join itself is a plain (broadcastable/shuffleable)
    join; the window partitions by a unique per-left-row id, so no single
    partition collects more than one left row's candidates. Restrictions
    (explicit select items, single join, no GROUP BY) raise UnsupportedSQL
    pointing at the DataFrame API."""
    if not re.search(r"\bASOF\b", sql, re.IGNORECASE):
        return sql
    toks = _tokens(sql)
    low = [t.lower() for t in toks]
    try:
        a = low.index("asof")
    except ValueError:
        return sql
    # join kind
    j = a + 1
    left_outer = False
    if low[j] == "left":
        left_outer = True
        j += 1
        if low[j] == "outer":
            j += 1
    if low[j] == "inner":
        j += 1
    if low[j] != "join":
        raise UnsupportedSQL("ASOF supports [LEFT] JOIN only")
    j += 1
    # right ref: ident [alias] or (subquery) alias
    if toks[j] == "(":
        r_end = _find_call_end(toks, j)
        r_table = " ".join(toks[j : r_end + 1])
        j = r_end + 1
        if not re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", toks[j]):
            raise UnsupportedSQL("ASOF JOIN subquery right side needs an alias")
        r_alias = toks[j]
        j += 1
    else:
        r_table = toks[j]
        j += 1
        r_alias = r_table
        if low[j] not in ("on", "using") and re.fullmatch(
            r"[A-Za-z_][A-Za-z_0-9]*", toks[j]
        ):
            r_alias = toks[j]
            j += 1
    if low[j] != "on":
        raise UnsupportedSQL("ASOF JOIN requires an ON condition")
    j += 1
    # condition span until depth-0 clause keyword
    depth = 0
    cond_end = len(toks)
    for k in range(j, len(toks)):
        if toks[k] == "(":
            depth += 1
        elif toks[k] == ")":
            depth -= 1
        elif depth == 0 and low[k] in (
            "where", "group", "order", "limit", "offset", "qualify",
            "union", "intersect", "except", "window", "join", "asof",
        ):
            if low[k] in ("join", "asof"):
                raise UnsupportedSQL("ASOF JOIN rewrite supports a single join")
            cond_end = k
            break
    cond = toks[j:cond_end]
    rest = toks[cond_end:]
    # left side: back to the nearest depth-0 FROM
    depth = 0
    from_i = None
    for k in range(a - 1, -1, -1):
        if toks[k] == ")":
            depth += 1
        elif toks[k] == "(":
            depth -= 1
        elif depth == 0 and low[k] == "from":
            from_i = k
            break
    if from_i is None:
        raise UnsupportedSQL("ASOF JOIN: no FROM clause found")
    left_span = toks[from_i + 1 : a]
    if any(t.lower() == "join" for t in left_span):
        raise UnsupportedSQL("ASOF JOIN rewrite supports a single join")
    if len(left_span) >= 2 and re.fullmatch(
        r"[A-Za-z_][A-Za-z_0-9]*", left_span[-1]
    ) and left_span[-1].lower() not in ("select",):
        l_alias = left_span[-1]
        l_expr = " ".join(left_span[:-1])
        if l_expr.lower().endswith(" as"):
            l_expr = l_expr[:-3]
    elif len(left_span) == 1:
        l_alias = left_span[0]
        l_expr = left_span[0]
    else:
        raise UnsupportedSQL("ASOF JOIN: unsupported left relation shape")
    # locate the single inequality conjunct → right-side ts + direction
    conjs: list[list[str]] = [[]]
    depth = 0
    for t in cond:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and t.lower() == "and":
            conjs.append([])
        else:
            conjs[-1].append(t)
    ineq = [(ci, c) for ci, c in enumerate(conjs) if any(x in _ASOF_INEQ for x in c)]
    if len(ineq) != 1:
        raise UnsupportedSQL("ASOF JOIN needs exactly one inequality in ON")
    _, c = ineq[0]
    op_i = next(i2 for i2, x in enumerate(c) if x in _ASOF_INEQ)
    lhs, op, rhs = c[:op_i], c[op_i], c[op_i + 1 :]
    # which operand references the right alias?
    def _refs(span: list[str], alias: str) -> bool:
        return any(
            t.lower() == alias.lower() and i2 + 1 < len(span) and span[i2 + 1] == "."
            for i2, t in enumerate(span)
        )
    if _refs(rhs, r_alias) and not _refs(lhs, r_alias):
        right_ts, direction = " ".join(rhs), _ASOF_INEQ[op]
    elif _refs(lhs, r_alias) and not _refs(rhs, r_alias):
        flipped = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}[op]
        right_ts, direction = " ".join(lhs), _ASOF_INEQ[flipped]
    else:
        raise UnsupportedSQL("ASOF JOIN: cannot attribute inequality sides")
    # select items: explicit, no stars (SELECT * would leak __qs_rid)
    sel_i = None
    depth = 0
    for k in range(from_i - 1, -1, -1):
        if toks[k] == ")":
            depth += 1
        elif toks[k] == "(":
            depth -= 1
        elif depth == 0 and low[k] == "select":
            sel_i = k
            break
    if sel_i is None:
        raise UnsupportedSQL("ASOF JOIN: no SELECT found")
    items = toks[sel_i + 1 : from_i]
    if any(t == "*" for t in items):
        raise UnsupportedSQL(
            "ASOF JOIN rewrite needs explicit select columns "
            "(or use the DataFrame API queries/joins.join_asof_*)"
        )
    if any(t.lower() in ("group", "having") for t in rest):
        raise UnsupportedSQL(
            "ASOF JOIN with GROUP BY — use the DataFrame API"
        )
    head = " ".join(toks[:sel_i])
    items_s = " ".join(items)
    cond_s = " ".join(cond)
    # outer clauses see the subquery's output names: strip l./r. qualifiers
    rest_clean: list[str] = []
    k = 0
    while k < len(rest):
        if (
            rest[k].lower() in (l_alias.lower(), r_alias.lower())
            and k + 1 < len(rest)
            and rest[k + 1] == "."
        ):
            k += 2
            continue
        rest_clean.append(rest[k])
        k += 1
    # a user WHERE applies AFTER best-match selection — merge it into the
    # outer filter rather than emitting two WHERE clauses
    extra_pred = ""
    if rest_clean and rest_clean[0].lower() == "where":
        d = 0
        pend = len(rest_clean)
        for k, t in enumerate(rest_clean[1:], 1):
            if t == "(":
                d += 1
            elif t == ")":
                d -= 1
            elif d == 0 and t.lower() in ("order", "limit", "offset"):
                pend = k
                break
        extra_pred = " AND (" + " ".join(rest_clean[1:pend]) + ")"
        rest_clean = rest_clean[pend:]
    rest_s = " ".join(rest_clean)
    join_kw = "LEFT JOIN" if left_outer else "JOIN"
    inner = (
        f"SELECT {items_s}, row_number() OVER ("
        f"PARTITION BY {l_alias}.__qs_rid ORDER BY {right_ts} {direction}"
        f") AS __qs_rn "
        f"FROM (SELECT *, monotonically_increasing_id() AS __qs_rid "
        f"FROM {l_expr}) {l_alias} {join_kw} {r_table} {r_alias} ON {cond_s}"
    )
    return (
        f"{head} SELECT * EXCEPT (__qs_rn) FROM ({inner}) __qs_asof "
        f"WHERE __qs_rn = 1{extra_pred} {rest_s}"
    ).strip()


_WIN_EXCLUDE_NOOP = re.compile(r"\s+EXCLUDE\s+NO\s+OTHERS", re.I)
_WIN_EXCLUDE_CUR = re.compile(
    r"(\w+)\s*\(\s*([^()]*?)\s*\)\s+OVER\s+\(([^()]*?)\s+EXCLUDE\s+CURRENT\s+ROW\s*\)",
    re.I,
)
_WIN_EXCLUDE_OTHER = re.compile(r"\bEXCLUDE\s+(GROUP|TIES)\b", re.I)


def _rewrite_window_exclude(sql: str) -> str:
    """Window frame EXCLUDE (DuckDB frame extension, SQL:2016): Spark has
    no frame-exclusion clause. NO OTHERS is the default → stripped;
    EXCLUDE CURRENT ROW rewrites arithmetically for sum/count/avg
    (full-frame aggregate minus the current row's contribution); GROUP
    and TIES have no faithful arithmetic form → precise refusal."""
    if not re.search(r"\bEXCLUDE\b", sql, re.I):
        return sql
    sql = _WIN_EXCLUDE_NOOP.sub("", sql)
    if m := _WIN_EXCLUDE_OTHER.search(sql):
        raise UnsupportedSQL(f"window frame EXCLUDE {m.group(1).upper()}")

    def sub(m: re.Match) -> str:
        fn, x, frame = m.group(1).lower(), m.group(2), m.group(3)
        if fn == "sum":
            return f"(sum({x}) OVER ({frame}) - coalesce({x}, 0))"
        if fn == "count":
            if x.strip() == "*":
                return f"(count(*) OVER ({frame}) - 1)"
            return (
                f"(count({x}) OVER ({frame}) - "
                f"CASE WHEN ({x}) IS NULL THEN 0 ELSE 1 END)"
            )
        if fn == "avg":
            return (
                f"((sum({x}) OVER ({frame}) - coalesce({x}, 0)) / "
                f"nullif(count({x}) OVER ({frame}) - "
                f"CASE WHEN ({x}) IS NULL THEN 0 ELSE 1 END, 0))"
            )
        raise UnsupportedSQL(
            f"window EXCLUDE CURRENT ROW with {fn} — only sum/count/avg "
            f"have an arithmetic rewrite"
        )

    out = _WIN_EXCLUDE_CUR.sub(sub, sql)
    if re.search(r"\bEXCLUDE\s+CURRENT\s+ROW\b", out, re.I):
        raise UnsupportedSQL(
            "window EXCLUDE CURRENT ROW in an unrecognized frame shape"
        )
    return out


def _rewrite_qualify(sql: str) -> str:
    m = re.search(r"\bQUALIFY\b", sql, re.IGNORECASE)
    if not m:
        return sql
    toks = _tokens(sql)
    depth = 0
    for i, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t.lower() == "qualify":
            pred_toks = toks[i + 1 :]
            # ORDER BY / LIMIT / OFFSET after the predicate belong to the
            # outer query, not the predicate
            cut = len(pred_toks)
            d2 = 0
            for k, pt in enumerate(pred_toks):
                if pt == "(":
                    d2 += 1
                elif pt == ")":
                    d2 -= 1
                elif d2 == 0 and (
                    pt.lower() in ("limit", "offset")
                    or (
                        pt.lower() == "order"
                        and k + 1 < len(pred_toks)
                        and pred_toks[k + 1].lower() == "by"
                    )
                ):
                    cut = k
                    break
            pred = " ".join(pred_toks[:cut])
            tail = " ".join(pred_toks[cut:])
            body = " ".join(toks[:i])
            # Spark rejects window functions in WHERE (ADVICE r1): project
            # the predicate as a generated boolean inside the subquery, then
            # filter on the column and EXCEPT it away.
            return (
                f"SELECT * EXCEPT (__qp) FROM "
                f"(SELECT *, ({pred}) AS __qp FROM ({body}) __q) "
                f"WHERE __qp{(' ' + tail) if tail else ''}"
            )
    return sql


#: aggregate function names for GROUP BY ALL classification
_AGG_FNS = {
    "sum", "count", "min", "max", "avg", "mean", "median", "mode",
    "stddev", "stddev_pop", "stddev_samp", "variance", "var_pop", "var_samp",
    "first", "last", "any_value", "bool_and", "bool_or", "bit_and", "bit_or",
    "bit_xor", "corr", "covar_pop", "covar_samp", "skewness", "kurtosis",
    "collect_list", "collect_set", "list", "string_agg", "array_agg",
    "approx_count_distinct", "percentile", "percentile_approx", "quantile",
    "approx_quantile", "entropy", "product", "min_by", "max_by", "arg_min",
    "arg_max", "arg_min_null", "arg_max_null", "argmin", "argmax",
    "bitstring_agg", "regr_slope", "regr_intercept", "regr_r2", "regr_count",
    "regr_avgx", "regr_avgy", "regr_sxx", "regr_syy", "regr_sxy",
}


def _select_items(toks: list[str]) -> list[list[str]] | None:
    """Top-level select list (between leading SELECT and top-level FROM)."""
    if not toks or toks[0].lower() != "select":
        return None
    start = 1
    if len(toks) > 1 and toks[1].lower() == "distinct":
        start = 2
    depth = 0
    for i in range(start, len(toks)):
        if toks[i] == "(":
            depth += 1
        elif toks[i] == ")":
            depth -= 1
        elif depth == 0 and toks[i].lower() == "from":
            return _split_args(toks[start:i])
    return None


def _has_aggregate(item: list[str]) -> bool:
    return any(
        t.lower() in _AGG_FNS and i + 1 < len(item) and item[i + 1] == "("
        for i, t in enumerate(item)
    )


def _rewrite_by_all(toks: list[str]) -> list[str]:
    """GROUP BY ALL / ORDER BY ALL (DuckDB 0.7 additions) → ordinals."""
    items = None
    out: list[str] = []
    depth = 0
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if (
            depth == 0
            and t.lower() in ("group", "order")
            and i + 2 < len(toks)
            and toks[i + 1].lower() == "by"
            and toks[i + 2].lower() == "all"
        ):
            if items is None:
                items = _select_items(toks)
            if items is None:
                raise UnsupportedSQL(f"{t.upper()} BY ALL without parsable select list")
            if t.lower() == "group":
                ords = [str(j + 1) for j, it in enumerate(items) if not _has_aggregate(it)]
            else:
                ords = [str(j + 1) for j in range(len(items))]
            i += 3
            # ORDER BY ALL DESC / ASC [NULLS FIRST|LAST] — the direction
            # applies to EVERY column (DuckDB semantics), so it must be
            # repeated per ordinal, not appended once
            suffix = ""
            if t.lower() == "order" and i < len(toks) and toks[i].lower() in ("asc", "desc"):
                suffix = " " + toks[i].upper()
                i += 1
                if (i + 1 < len(toks) and toks[i].lower() == "nulls"
                        and toks[i + 1].lower() in ("first", "last")):
                    suffix += f" NULLS {toks[i + 1].upper()}"
                    i += 2
            out.extend([t, "BY"] + _tokens(", ".join(o + suffix for o in ords)))
            continue
        out.append(t)
        i += 1
    return out


_PATH_SCAN = re.compile(r"\bFROM\s+'([^']+\.(?:csv|csv\.gz|tsv|parquet|parq|json))'", re.IGNORECASE)


_AT_VERSION_RE = re.compile(
    r"\b([A-Za-z_]\w*)\s+AT\s*\(\s*VERSION\s*=>\s*(\d+)\s*\)", re.I
)


def _rewrite_at_version(sql: str, spark: SparkSession | None) -> str:
    """``FROM t AT (VERSION => 3)`` — time travel on a commit-log
    versioned table (the DuckLake surface) → a snapshot-pinned view."""
    if spark is None or "=>" not in sql:
        return sql

    def sub(m: re.Match) -> str:
        from quackspark import versioned as _versioned

        name, version = m.group(1), int(m.group(2))
        if not _versioned.is_versioned(spark, name):
            raise UnsupportedSQL(
                f"AT (VERSION => …): {name} has no commit log (only "
                f"tables made by CREATE TABLE keep versions)"
            )
        return _versioned.snapshot_view(spark, name, version)

    return _AT_VERSION_RE.sub(sub, sql)


def _rewrite_replacement_scans(sql: str, spark: SparkSession | None) -> str:
    def sub(m: re.Match) -> str:
        path = m.group(1)
        if spark is None:
            raise UnsupportedSQL("replacement scan needs a SparkSession")
        from quackspark.sources import from_path

        view = "qs_scan_" + re.sub(r"[^A-Za-z0-9]", "_", path)[-60:]
        from_path(spark, path).createOrReplaceTempView(view)
        return f"FROM {view}"

    sql = _PATH_SCAN.sub(sub, sql)
    sql = _GLOB_FN.sub(_sub_glob_fn, sql)
    sql = _REPEAT_ROW_FN.sub(_sub_repeat_row, sql)
    return _READ_FN.sub(lambda m: _sub_read_fn(m, spark), sql)


_READ_FN = re.compile(
    r"\bFROM\s+(?:read_(csv_auto|csv|json_auto|json|ndjson_auto|ndjson|parquet"
    r"|text|blob)"
    r"|(?:parquet_scan)"
    r"|(sniff_csv|parquet_schema|parquet_file_metadata|parquet_metadata))"
    r"\s*\(\s*('[^']+'|\[[^\]]*\])\s*(?:,([^()]*))?\)",
    re.IGNORECASE,
)

_GLOB_FN = re.compile(
    r"\bFROM\s+glob\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE
)

_REPEAT_ROW_FN = re.compile(
    r"\bFROM\s+repeat_row\s*\(([^()]*)\)", re.IGNORECASE
)


def _sub_repeat_row(m: re.Match) -> str:
    """`FROM repeat_row(v0, v1, ..., num_rows=N)` (reference table
    function): N copies of the literal row, columns named column0.. like
    the reference."""
    args = _split_args(_tokens(m.group(1)))
    n = None
    vals: list[str] = []
    for a in args:
        if len(a) >= 3 and a[0].lower() == "num_rows" and a[1] in ("=", ":="):
            n = " ".join(a[2:])
        else:
            vals.append(" ".join(a))
    if n is None or not vals:
        raise UnsupportedSQL("repeat_row needs row values and num_rows=N")
    # DuckDB-dialect output: later passes transpile range() like user text
    items = ", ".join(f"{v} AS column{i}" for i, v in enumerate(vals))
    return f"FROM (SELECT {items} FROM range({n})) AS repeat_row_t"


def _sub_glob_fn(m: re.Match) -> str:
    """`FROM glob('pattern')` (reference glob table function) → inline
    VALUES of the matched paths. The expansion is driver-side and bounded
    by the filesystem listing — the same work DuckDB's glob performs."""
    import glob as _glob

    files = sorted(_glob.glob(m.group(1)))
    if not files:
        return "FROM (SELECT CAST(NULL AS STRING) AS file WHERE FALSE)"
    vals = ", ".join("(" + _quote(f) + ")" for f in files)
    return f"FROM (VALUES {vals}) AS glob_t(file)"


def _parse_read_options(opts: str | None) -> dict:
    """key=value named parameters of the read_* table functions: quoted
    strings, booleans, and numbers."""
    out: dict = {}
    if not opts:
        return out
    # columns={'name': 'TYPE', …} — brace payload holds commas; extract it
    # whole before the comma split (reference read_json explicit-schema
    # argument, JSON extension surface duckdb-7.cpp:4405)
    if m := re.search(r"columns\s*=\s*\{([^}]*)\}", opts, re.I):
        cols: list[tuple[str, str]] = []
        for pair in m.group(1).split(","):
            if not pair.strip():
                continue
            km = re.match(r"\s*'([^']+)'\s*:\s*'([^']+)'\s*$", pair)
            if not km:
                raise UnsupportedSQL(
                    f"columns= entry must be 'name': 'TYPE': {pair!r}"
                )
            cols.append((km.group(1), km.group(2)))
        out["columns"] = cols
        opts = opts[: m.start()] + opts[m.end():]
    for part in opts.split(","):
        part = part.strip()
        if not part:
            continue
        if "=" not in part:
            raise UnsupportedSQL(f"read_* option must be key=value: {part!r}")
        k, v = (x.strip() for x in part.split("=", 1))
        if v.startswith("'") and v.endswith("'"):
            out[k.lower()] = v[1:-1]
        elif v.lower() in ("true", "false"):
            out[k.lower()] = v.lower() == "true"
        else:
            try:
                out[k.lower()] = int(v)
            except ValueError:
                out[k.lower()] = float(v)
    return out


def _sub_read_fn(m: re.Match, spark: SparkSession | None) -> str:
    """`FROM read_csv('x.csv', delim=';')` / read_json / read_parquet
    table functions (reference JSON/CSV extension surface; multi-file
    lists supported) → temp view over the matching Spark reader."""
    if spark is None:
        raise UnsupportedSQL("read_* table function needs a SparkSession")
    from quackspark.sources.csvio import read_csv, read_csv_auto

    kind = (m.group(1) or m.group(2) or "parquet").lower()
    pathspec = m.group(3)
    options = _parse_read_options(m.group(4))
    if pathspec.startswith("["):
        paths = re.findall(r"'([^']+)'", pathspec)
        if not paths:
            raise UnsupportedSQL(f"read_{kind}: empty path list")
    else:
        paths = [pathspec.strip("'")]
    if kind == "csv" and options.get("columns"):
        # explicit schema (reference read_csv columns= struct option):
        # skips inference — at 100 TB the difference between 0 and 1
        # extra full scans (closes VERDICT r7 missing #5; read_json
        # columns= landed in r7)
        from quackspark.ddl import _translate_type

        options["columns"] = {
            name: _translate_type(_tokens(typ))
            for name, typ in options.pop("columns")
        }
    elif kind == "csv_auto" and options.get("columns"):
        raise UnsupportedSQL(
            "read_csv_auto sniffs the schema — pass columns= to read_csv"
        )
    if kind == "csv":
        df = read_csv(spark, paths[0] if len(paths) == 1 else paths, **options)
    elif kind == "csv_auto":
        df = read_csv_auto(spark, paths[0], **options)
    elif kind == "parquet":
        df = spark.read.parquet(*paths)
    elif kind in ("text", "blob"):
        # whole-file rows (reference read_text/read_blob table functions):
        # Spark's binaryFile source carries (path, modificationTime,
        # length, content) — project to DuckDB's column names
        from pyspark.sql import functions as F

        raw = spark.read.format("binaryFile").load(paths)
        content = (F.col("content").cast("string").alias("content")
                   if kind == "text" else F.col("content"))
        df = raw.select(
            F.col("path").alias("filename"),
            content,
            F.col("length").alias("size"),
            F.col("modificationTime").alias("last_modified"),
        )
    elif kind == "sniff_csv":
        from quackspark.sources.sniffer import sniff_csv as _sniff

        d = _sniff(paths[0])
        df = local_frame(
            spark, [(d.get("delim", ","), d.get("quote", '"'),
              bool(d.get("header", True)), int(d.get("skip", 0)))],
            "Delimiter string, Quote string, HasHeader boolean, SkipRows int",
        )
    elif kind == "parquet_schema":
        import pyarrow.parquet as pq

        sch = pq.read_schema(paths[0])
        df = local_frame(
            spark, [(paths[0], f.name, str(f.type)) for f in sch],
            "file_name string, name string, type string",
        )
    elif kind in ("parquet_metadata", "parquet_file_metadata"):
        from quackspark import catalog as _cat

        df = getattr(_cat, kind)(spark, paths[0])
    else:  # json / json_auto / ndjson — newline-delimited JSON
        reader = spark.read
        if cols := options.get("columns"):
            # explicit schema: no inference pass, absent keys read as NULL
            # (DuckDB read_json columns= semantics)
            from quackspark.ddl import _translate_type

            ddl_schema = ", ".join(
                f"`{name}` {_translate_type(_tokens(typ))}"
                for name, typ in cols
            )
            reader = reader.schema(ddl_schema)
        df = reader.json(*paths)
    view = "qs_read_" + re.sub(r"[^A-Za-z0-9]", "_", f"{kind}_{paths[0]}")[-60:]
    df.createOrReplaceTempView(view)
    return f"FROM {view}"


#: scalar macros (CREATE MACRO, reference ScalarMacroFunction
#: duckdb-internal.hpp:9920) — expanded inline at transpile time, exactly
#: the reference's bind-time inlining semantics
_MACROS: dict[str, tuple[list[str], list[str]]] = {}

#: named ENUM types (reference CREATE TYPE … AS ENUM, enum function family
#: duckdb-5.cpp:11590) — driver-side catalog state like _MACROS/_SEQUENCES.
#: Values are carried as validated STRINGs; the introspection family
#: (enum_first/enum_last/enum_range/enum_range_boundary) resolves against
#: the registered dictionary at transpile time. Ordering stays label-order
#: (insertion-index comparisons use the enum_code carrier,
#: queries/unionenum.py) — documented carrier semantics.
_ENUM_TYPES: dict[str, list[str]] = {}


def _qstr(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _enum_array_toks(labels: list[str]) -> list[str]:
    out = ["array", "("]
    for j, lab in enumerate(labels):
        if j:
            out.append(",")
        out.append(_qstr(lab))
    out.append(")")
    return out


def _enum_of_arg(arg: list[str]) -> tuple[str, list[str]] | None:
    """(type name, value tokens with the enum cast stripped) when `arg`
    is `expr :: name` or `CAST(expr AS name)` for a registered ENUM."""
    if len(arg) >= 3 and arg[-2] == "::" and arg[-1].lower() in _ENUM_TYPES:
        return arg[-1].lower(), arg[:-2]
    if (
        len(arg) >= 5
        and arg[0].lower() in ("cast", "try_cast")
        and arg[1] == "("
        and arg[-1] == ")"
        and arg[-2].lower() in _ENUM_TYPES
        and arg[-3].lower() == "as"
    ):
        return arg[-2].lower(), arg[2:-3]
    return None


def _rewrite_enum_named(toks: list[str]) -> list[str]:
    """enum_first/enum_last/enum_range/enum_range_boundary over registered
    named ENUM types, plus casts to those types (validated-string carrier).
    Runs only when CREATE TYPE … AS ENUM has registered something."""
    if not _ENUM_TYPES:
        return toks
    out: list[str] = []
    i = 0
    while i < len(toks):
        low = toks[i].lower()
        if (
            low in ("enum_first", "enum_last", "enum_range",
                    "enum_range_boundary", "enum_code")
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            end = _find_call_end(toks, i + 1)
            raw_args = _split_args(toks[i + 2 : end])
            resolved = [_enum_of_arg(a) for a in raw_args]
            # strip the enum cast BEFORE recursing so the bare-cast branch
            # below can't consume it first
            args = [
                _rewrite_enum_named(r[1] if r else a)
                for a, r in zip(raw_args, resolved)
            ]
            hit = next((r for r in resolved if r is not None), None)
            if hit is None:
                raise UnsupportedSQL(
                    f"{low}() needs an argument cast to a registered ENUM "
                    f"type (CREATE TYPE … AS ENUM)"
                )
            labels = _ENUM_TYPES[hit[0]]
            for v in args:
                # literal members are validated at transpile, matching the
                # reference's bind-time enum conversion error
                if len(v) == 1 and _is_string(v[0]) \
                        and _str_val(v[0]) not in labels:
                    raise UnsupportedSQL(
                        f"'{_str_val(v[0])}' is not a member of ENUM "
                        f"{hit[0]} {labels}"
                    )
            if low == "enum_first":
                out.append(_qstr(labels[0]))
            elif low == "enum_last":
                out.append(_qstr(labels[-1]))
            elif low == "enum_range":
                out.extend(_enum_array_toks(labels))
            elif low == "enum_code":
                # carrier helper: 1-based insertion index of the value
                out.extend(
                    ["array_position", "(", *_enum_array_toks(labels), ","]
                    + ["("] + args[0] + [")", ")"]
                )
            else:  # enum_range_boundary(a, b): NULL = open end
                if len(args) != 2:
                    raise UnsupportedSQL("enum_range_boundary takes 2 args")
                arr = _enum_array_toks(labels)

                def bound(v: list[str], default: str) -> list[str]:
                    if len(v) == 1 and v[0].lower() == "null":
                        return [default]
                    return (
                        ["array_position", "(", *arr, ",", "("]
                        + v + [")", ")"]
                    )

                s = bound(args[0], "1")
                e = bound(args[1], str(len(labels)))
                out.extend(
                    ["slice", "(", *arr, ",", "(", *s, ")", ",",
                     "(", *e, ")", "-", "(", *s, ")", "+", "1", ")"]
                )
            i = end + 1
            continue
        # bare casts to a registered ENUM: literal → validate + inline
        # (bind-time error, like the reference's enum conversion); dynamic
        # expression → membership-checked string that RAISES on a
        # non-member exactly like DuckDB's enum conversion error (CAST /
        # ::), or NULLs like DuckDB's TRY_CAST. The element_at/
        # array_position pair binds the expression ONCE (r7 ADVICE #4:
        # the old CASE form both NULLed where DuckDB raises and evaluated
        # the expression twice).
        if (
            toks[i] == "::"
            and i + 1 < len(toks)
            and toks[i + 1].lower() in _ENUM_TYPES
        ):
            ename = toks[i + 1].lower()
            # the left primary has already been copied into `out` (possibly
            # rewritten) — locate and detach it there
            start_o = _primary_start(out, len(out))
            expr = out[start_o:]
            del out[start_o:]
            out.extend(_enum_cast_toks(expr, ename, try_=False))
            i += 2
            continue
        if (
            low in ("cast", "try_cast")
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            end = _find_call_end(toks, i + 1)
            if (
                end >= i + 4
                and toks[end - 1].lower() in _ENUM_TYPES
                and toks[end - 2].lower() == "as"
            ):
                expr = _rewrite_enum_named(toks[i + 2 : end - 2])
                out.extend(
                    _enum_cast_toks(
                        expr, toks[end - 1].lower(), try_=low == "try_cast"
                    )
                )
                i = end + 1
                continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_enum_anonymous(toks: list[str]) -> list[str]:
    """Inline anonymous ENUM casts — `CAST(x AS ENUM('a','b'))` /
    `x::ENUM('a','b')` (duckdb.hpp:944) — previously refused (VERDICT r7
    missing #2). The dictionary is known inline at transpile, so the
    carrier is the ORDERED struct<code INT, label STRING>: Spark compares
    structs field-wise, so enum-to-enum comparison and ORDER BY follow
    dictionary INSERTION order exactly like the reference (string order
    would be wrong for non-alphabetical dictionaries). Members round-trip,
    NULL stays NULL, non-members raise for CAST (element_at index 0) and
    NULL for TRY_CAST — DuckDB's CAST/TRY_CAST enum conversion split. The
    transform-over-1-array binds x once. Divergence (documented in
    COVERAGE.md): selecting the cast as an OUTPUT column yields the
    struct, not the bare label — project `.label` (or compare via
    enum_code) for output use; DuckDB renders the label."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        low = toks[i].lower()
        if (
            toks[i] == "::"
            and i + 1 < len(toks)
            and toks[i + 1].lower() == "enum"
            and i + 2 < len(toks)
            and toks[i + 2] == "("
        ):
            end = _find_call_end(toks, i + 2)
            labels = _anon_enum_labels(toks[i + 3 : end])
            start_o = _primary_start(out, len(out))
            expr = out[start_o:]
            del out[start_o:]
            out.extend(_anon_enum_cast_toks(expr, labels, try_=False))
            i = end + 1
            continue
        if (
            low in ("cast", "try_cast")
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            end = _find_call_end(toks, i + 1)
            if (
                toks[end - 1] == ")"
                and end >= i + 6
            ):
                # locate `AS ENUM ( … )` tail: the label list is the last
                # balanced group; its opener must be preceded by AS ENUM
                ed = _find_group_open(toks, end - 1)
                if (
                    ed is not None
                    and ed >= i + 4
                    and toks[ed - 1].lower() == "enum"
                    and toks[ed - 2].lower() == "as"
                ):
                    labels = _anon_enum_labels(toks[ed + 1 : end - 1])
                    expr = _rewrite_enum_anonymous(toks[i + 2 : ed - 2])
                    out.extend(
                        _anon_enum_cast_toks(
                            expr, labels, try_=low == "try_cast"
                        )
                    )
                    i = end + 1
                    continue
        out.append(toks[i])
        i += 1
    return out


def _find_group_open(toks: list[str], close: int) -> int | None:
    """Index of the '(' matching the ')' at `close`."""
    depth = 0
    for j in range(close, -1, -1):
        if toks[j] == ")":
            depth += 1
        elif toks[j] == "(":
            depth -= 1
            if depth == 0:
                return j
    return None


def _anon_enum_labels(toks: list[str]) -> list[str]:
    labels = []
    for arg in _split_args(toks):
        if len(arg) != 1 or not _is_string(arg[0]):
            raise UnsupportedSQL(
                "ENUM(...) cast labels must be string literals"
            )
        labels.append(_str_val(arg[0]))
    if not labels:
        raise UnsupportedSQL("ENUM(...) cast needs at least one label")
    return labels


def _anon_enum_cast_toks(
    expr: list[str], labels: list[str], try_: bool
) -> list[str]:
    if len(expr) == 1 and expr[0].lower() == "null":
        return _tokens("CAST(NULL AS STRUCT<code:INT,label:STRING>)")
    if len(expr) == 1 and _is_string(expr[0]):
        val = _str_val(expr[0])
        if val not in labels:
            if try_:
                return _tokens("CAST(NULL AS STRUCT<code:INT,label:STRING>)")
            raise UnsupportedSQL(
                f"'{val}' is not a member of ENUM {labels}"
            )
        return _tokens(
            f"named_struct('code', {labels.index(val) + 1}, "
            f"'label', {_qstr(val)})"
        )
    arr = " ".join(_enum_array_toks(labels))
    x = " ".join(expr)
    if try_:
        body = (
            f"CASE WHEN qs_e IS NULL "
            f"OR array_position({arr}, qs_e) = 0 THEN NULL "
            f"ELSE named_struct("
            f"'code', CAST(array_position({arr}, qs_e) AS INT), "
            f"'label', qs_e) END"
        )
    else:
        body = (
            f"CASE WHEN qs_e IS NULL THEN NULL ELSE named_struct("
            f"'code', CAST(array_position({arr}, qs_e) AS INT), "
            f"'label', element_at({arr}, "
            f"CAST(array_position({arr}, qs_e) AS INT))) END"
        )
    # element_at, not [0]: this pass runs BEFORE the 1-based subscript
    # pass, which would rewrite a bare [0] into element_at(…, 0) — an
    # unconditional Spark error
    return _tokens(
        f"element_at(transform(array(({x})), qs_e -> {body}), 1)"
    )


def _enum_cast_toks(expr: list[str], ename: str, try_: bool) -> list[str]:
    """Lower `expr::<named enum>` / `CAST(expr AS <named enum>)` to the
    validated-string carrier. Literals validate at transpile (the
    reference's bind-time enum conversion error); dynamic expressions go
    through element_at(labels, array_position(labels, expr)) — the
    expression binds once, members round-trip to themselves, NULL stays
    NULL, and a non-member raises (element_at index 0 is unconditionally
    invalid in Spark) for CAST, resp. NULLs via nullif for TRY_CAST —
    matching DuckDB CAST vs TRY_CAST enum semantics."""
    labels = _ENUM_TYPES[ename]
    if len(expr) == 1 and expr[0].lower() == "null":
        return ["CAST", "(", "NULL", "AS", "STRING", ")"]
    if len(expr) == 1 and _is_string(expr[0]):
        if _str_val(expr[0]) not in labels:
            raise UnsupportedSQL(
                f"'{_str_val(expr[0])}' is not a member of ENUM "
                f"{ename} {labels}"
            )
        return [expr[0]]
    arr = _enum_array_toks(labels)
    idx = (
        ["CAST", "(", "array_position", "(", *arr, ",", "("]
        + expr
        + [")", ")", "AS", "INT", ")"]
    )
    if try_:
        idx = ["nullif", "(", *idx, ",", "0", ")"]
    return ["element_at", "(", *arr, ",", *idx, ")"]


#: sequence registry (reference CREATE SEQUENCE, duckdb-6.cpp:2012) —
#: driver-side catalog state, like _MACROS. A sequence is an inherently
#: serial construct; the shim assigns dense unique values via row_number
#: over the statement's ORDER BY (or a monotonic id when unordered) and
#: advances the cursor by the statement's row count at execution time.
_SEQUENCES: dict[str, dict] = {}

#: sequences referenced by the most recent transpile() — consumed by sql()
#: to advance cursors after execution
_PENDING_SEQ: list[str] = []


def _rewrite_sequences(toks: list[str]) -> list[str]:
    """`nextval('s')` / `currval('s')` (reference duckdb-6.cpp:2012).

    nextval → `cur + inc * (row_number() OVER (ORDER BY <stmt order|monotonic
    id>) - 1)`: dense, unique, resumable ids. Caveats vs the reference
    (documented in README): assignment order follows the statement's ORDER BY
    when present, else partition order (nondeterministic under retries) —
    the same caveat every distributed id generator carries; and the cursor
    advances by the full statement row count at execution, so concurrent
    statements serialize through the driver."""
    if not any(t.lower() in ("nextval", "currval") for t in toks):
        return toks
    # statement-level ORDER BY keys give the assignment order
    order_keys: list[str] | None = None
    depth = 0
    for k in range(len(toks) - 1):
        if toks[k] == "(":
            depth += 1
        elif toks[k] == ")":
            depth -= 1
        elif depth == 0 and toks[k].lower() == "order" and toks[k + 1].lower() == "by":
            order_keys, _ = _peel_limit_offset(toks[k + 2 :])
    order = " ".join(order_keys) if order_keys else "monotonically_increasing_id()"
    out: list[str] = []
    seen: set[str] = set()
    i = 0
    while i < len(toks):
        low = toks[i].lower()
        if low in ("nextval", "currval") and i + 1 < len(toks) and toks[i + 1] == "(":
            end = _find_call_end(toks, i + 1)
            inner = toks[i + 2 : end]
            if len(inner) != 1 or not _is_string(inner[0]):
                raise UnsupportedSQL(f"{low} needs a literal sequence name")
            name = _str_val(inner[0]).lower()
            seq = _SEQUENCES.get(name)
            if seq is None:
                seq = _load_shared_sequence(name)
            if seq is None:
                raise UnsupportedSQL(f"sequence {name!r} does not exist")
            if low == "nextval":
                if name in seen:
                    raise UnsupportedSQL(
                        f"sequence {name!r} referenced twice in one statement"
                    )
                seen.add(name)
                _PENDING_SEQ.append(name)
                if seq.get("cycle", False):
                    # two-segment walk (see _seq_cycle_params): rows before
                    # the first boundary crossing continue from the cursor;
                    # after it the walk is periodic from the restart
                    # boundary. All offsets folded driver-side → the
                    # in-plan arithmetic stays small (ANSI-safe).
                    s, p, base = _seq_cycle_params(seq)
                    expr = (
                        f"CAST(CASE WHEN (row_number() OVER (ORDER BY"
                        f" {order}) - 1) < {s} THEN {seq['next']} +"
                        f" {seq['inc']} * (row_number() OVER (ORDER BY"
                        f" {order}) - 1) ELSE {base} + {seq['inc']} *"
                        f" pmod(row_number() OVER (ORDER BY {order}) - 1"
                        f" - {s}, {p}) END AS BIGINT)"
                    )
                else:
                    expr = (
                        f"CAST({seq['next']} + {seq['inc']} * (row_number()"
                        f" OVER (ORDER BY {order}) - 1) AS BIGINT)"
                    )
                out.extend(_tokens(expr))
            else:
                if seq["last"] is None:
                    raise UnsupportedSQL(
                        f"currval: nextval('{name}') has not been called"
                    )
                out.extend(_tokens(f"CAST({seq['last']} AS BIGINT)"))
            i = end + 1
            continue
        out.append(toks[i])
        i += 1
    return out


class SequenceExhausted(RuntimeError):
    """nextval walked past MAXVALUE/MINVALUE on a NO CYCLE sequence
    (reference exhaustion errors, duckdb-6.cpp:1919-1923)."""


def _seq_cycle_params(seq: dict) -> tuple[int, int, int]:
    """(first-segment length s, cycle period p, restart base) for a CYCLE
    sequence: DuckDB (like PostgreSQL) RESTARTS at MINVALUE when an
    ascending walk passes MAXVALUE (and at MAXVALUE descending) — it does
    NOT continue modularly, which differs for |inc| > 1. The walk is
    therefore next, next+inc, … (s values), then periodic from the
    boundary with period p."""
    inc, minv, maxv = seq["inc"], seq["min"], seq["max"]
    if inc > 0:
        return (maxv - seq["next"]) // inc + 1, (maxv - minv) // inc + 1, minv
    return (seq["next"] - minv) // -inc + 1, (maxv - minv) // -inc + 1, maxv


def _seq_value_at(seq: dict, k: int, name: str = "?") -> int:
    """The id assigned to 0-based row k of the current statement —
    bounds-checked (NO CYCLE raises like the reference) or wrapped
    (CYCLE: boundary-restart walk, DuckDB semantics)."""
    minv = seq.get("min", 1 if seq["inc"] > 0 else -(2**63 - 1))
    maxv = seq.get("max", 2**63 - 1 if seq["inc"] > 0 else -1)
    v = seq["next"] + seq["inc"] * k
    if minv <= v <= maxv:
        return v
    if not seq.get("cycle", False):
        bound, word = (maxv, "maximum") if seq["inc"] > 0 else (minv, "minimum")
        raise SequenceExhausted(
            f"nextval: reached {word} value of sequence \"{name}\" ({bound})"
        )
    s, p, base = _seq_cycle_params(seq)
    return base + seq["inc"] * ((k - s) % p)


def advance_sequences(n_rows: int) -> None:
    """Advance every sequence consumed by the last transpile by n_rows.

    For NO CYCLE sequences this is also the exhaustion gate: the ids were
    produced vectorized (one expression over the whole statement), so the
    bound check runs once here against the statement's last row — the
    statement fails atomically, exactly like the reference's serialized
    cursor erroring mid-scan (nothing is returned to the caller)."""
    while _PENDING_SEQ:
        name = _PENDING_SEQ.pop()
        seq = _SEQUENCES[name]
        if n_rows > 0:
            seq["last"] = _seq_value_at(seq, n_rows - 1, name)
            seq["next"] = _seq_value_at(seq, n_rows, name) if seq.get(
                "cycle", False
            ) else seq["next"] + seq["inc"] * n_rows


def _load_shared_sequence(name: str) -> dict | None:
    """A sequence created by ANOTHER session sharing this warehouse:
    adopt its persisted cursor into the local registry (the claim step
    then keeps the two sessions' blocks disjoint)."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    path = _seq_file(spark, name)
    if path is None or not os.path.exists(path):
        return None
    with open(path) as fh:
        state = json.load(fh)
    seq = {**state, "last": None}
    _SEQUENCES[name] = seq
    return seq


def _seq_file(spark: SparkSession, name: str) -> str | None:
    """Warehouse-shared cursor file for a sequence (None → no shared
    warehouse, sequence stays session-local)."""
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if not wh or not os.path.isdir(wh):
        return None
    d = os.path.join(wh, "_qs_seq")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{name}.json")


def _seq_write(path: str, state: dict) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(state, fh)
    os.replace(tmp, path)


def _claim_sequence_blocks(
    spark: SparkSession,
    names: list[str],
    n_rows: int,
    registry: dict[str, dict] | None = None,
) -> bool:
    """Atomically reserve [next, next + inc·n) for each file-backed
    sequence — the distributed analog of the reference's serialized
    SequenceCatalogEntry cursor (duckdb-6.cpp:2012): concurrent SESSIONS
    allocate disjoint id blocks through an O_EXCL lock + read-modify-write
    on the shared cursor file. Returns True when any claimed start differs
    from the start the statement was transpiled with (the caller must
    re-emit the statement from the claimed start). Sequence gaps on
    failed statements are allowed — same as the reference, where nextval
    consumption survives rollback."""
    moved = False
    if n_rows <= 0:
        return False
    for name in names:
        path = _seq_file(spark, name)
        seq = (registry if registry is not None else _SEQUENCES)[name]
        if path is None or not os.path.exists(path):
            continue
        lock = f"{path}.lock"
        for attempt in range(50):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                time.sleep(0.01 * (attempt % 5 + 1))
        else:
            raise ConcurrentWriteError(
                f"sequence {name}: cursor file lock is stuck ({lock})"
            )
        try:
            with open(path) as fh:
                state = json.load(fh)
            if state["next"] != seq["next"]:
                seq["next"] = state["next"]  # re-emit from the shared tip
                moved = True
            state["next"] = (
                _seq_value_at(seq, n_rows, name)
                if seq.get("cycle", False)
                else seq["next"] + seq["inc"] * n_rows
            )
            _seq_write(path, state)
        finally:
            with contextlib.suppress(OSError):
                os.unlink(lock)
    return moved


#: collation → expression wrapper (reference COLLATE binder; DuckDB ships
#: NOCASE/NOACCENT/NFC as built-in collations)
_COLLATION_WRAPPERS = {
    "nocase": "lower",
    "noaccent": "strip_accents",
    "nfc": "qs_nfc_normalize",
}

_CMP_OPS = {"=", "<", ">", "<=", ">=", "<>", "!="}


def _forward_primary_end(toks: list[str], j: int) -> int:
    """End index (exclusive) of the primary starting at toks[j]: dotted
    identifier chain, optional call parens, or a bare literal/group."""
    if j >= len(toks):
        raise UnsupportedSQL("operator with no right operand")
    k = j
    if _IDENT.match(toks[k]):
        while k + 2 < len(toks) and toks[k + 1] == "." and _IDENT.match(toks[k + 2]):
            k += 2
        if k + 1 < len(toks) and toks[k + 1] == "(":
            return _find_call_end(toks, k + 1) + 1
        return k + 1
    if toks[k] == "(":
        return _find_call_end(toks, k) + 1
    return k + 1  # literal


def _rewrite_collate(toks: list[str]) -> list[str]:
    """`expr COLLATE NOCASE[.NOACCENT…]` → wrapper functions on BOTH sides
    of an adjacent comparison (collation attaches to the comparison in the
    reference binder), or on the sort key alone in ORDER BY position."""
    while any(t.lower() == "collate" for t in toks):
        i = next(k for k, t in enumerate(toks) if t.lower() == "collate")
        # parse the spec chain: IDENT (. IDENT)*
        chain: list[str] = []
        j = i + 1
        if j >= len(toks) or not _IDENT.match(toks[j]):
            raise UnsupportedSQL("COLLATE needs a collation name")
        chain.append(toks[j].lower())
        while j + 2 < len(toks) and toks[j + 1] == "." and _IDENT.match(toks[j + 2]):
            chain.append(toks[j + 2].lower())
            j += 2
        for c in chain:
            if c not in _COLLATION_WRAPPERS:
                raise UnsupportedSQL(f"collation {c!r} not supported")

        def wrap(expr: list[str]) -> list[str]:
            for c in chain:
                expr = [_COLLATION_WRAPPERS[c], "("] + expr + [")"]
            return expr

        start = _primary_start(toks, i)
        left = wrap(toks[start:i])
        after = j + 1
        if after < len(toks) and toks[after] in _CMP_OPS:
            # x COLLATE spec = y  → wrap(x) = wrap(y)
            rhs_end = _forward_primary_end(toks, after + 1)
            right = wrap(toks[after + 1 : rhs_end])
            toks = (
                toks[:start] + left + [toks[after]] + right + toks[rhs_end:]
            )
        elif start >= 2 and toks[start - 1] in _CMP_OPS:
            # y = x COLLATE spec  → wrap(y) = wrap(x)
            lstart = _primary_start(toks, start - 1)
            other = wrap(toks[lstart : start - 1])
            toks = (
                toks[:lstart] + other + [toks[start - 1]] + left + toks[after:]
            )
        else:
            toks = toks[:start] + left + toks[after:]
    return toks

_CREATE_MACRO = re.compile(
    r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?MACRO\s+([A-Za-z_][A-Za-z0-9_]*)\s*\(",
    re.IGNORECASE,
)


def _handle_create_macro(sql: str) -> bool:
    m = _CREATE_MACRO.match(sql)
    if not m:
        return False
    name = m.group(1).lower()
    toks = _tokens(sql)
    open_idx = toks.index("(")
    close_idx = _find_call_end(toks, open_idx)
    params = [a[0] for a in _split_args(toks[open_idx + 1 : close_idx])]
    if toks[close_idx + 1].lower() != "as":
        raise UnsupportedSQL("CREATE MACRO requires AS <expression>")
    body = toks[close_idx + 2 :]
    # TABLE macro (reference TableMacroFunction, duckdb-internal.hpp:9930):
    # the stored body is the bare SELECT; the parenthesized expansion is a
    # valid FROM-position subquery
    if body and body[0].lower() == "table":
        body = body[1:]
    _MACROS[name] = (params, body)
    return True


def _expand_macros(toks: list[str]) -> list[str]:
    out: list[str] = []
    i = 0
    changed = False
    while i < len(toks):
        t = toks[i]
        if (
            t.lower() in _MACROS
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            end = _find_call_end(toks, i + 1)
            args = _split_args(toks[i + 2 : end])
            params, body = _MACROS[t.lower()]
            if len(args) != len(params):
                raise UnsupportedSQL(
                    f"macro {t} expects {len(params)} args, got {len(args)}"
                )
            binding = {p.lower(): a for p, a in zip(params, args)}
            out.append("(")
            for bt in body:
                if bt.lower() in binding:
                    out.extend(["("] + binding[bt.lower()] + [")"])
                else:
                    out.append(bt)
            out.append(")")
            i = end + 1
            changed = True
            continue
        out.append(t)
        i += 1
    return _expand_macros(out) if changed else out  # macros may call macros


def _escape_spark_literal(tok: str) -> str:
    """DuckDB string literals carry no backslash escapes (standard SQL), but
    Spark's parser consumes them (escapedStringLiterals=false default) — so
    every backslash in an emitted literal must be doubled or patterns like
    RLIKE '^.*\\.csv$' silently lose the escape and match too much
    (ADVICE r1, high). Applied once, at emit time, to every single-quoted
    token — pass-through DuckDB literals and _quote()-built regexes alike.
    """
    if _is_string(tok):
        return tok.replace("\\", "\\\\")
    if tok.startswith('"') and tok.endswith('"') and len(tok) >= 2:
        # double-quoted identifier (SQL standard / DuckDB) → backticks.
        # Left as-is, Spark would read it as a STRING LITERAL
        # (doubleQuotedIdentifiers=false default) — silent wrongness.
        name = tok[1:-1].replace('""', '"').replace("`", "``")
        return f"`{name}`"
    return tok


_ORDER_ITEM_STOP = {
    "limit", "offset", "union", "except", "intersect", "fetch",
    "rows", "range", "groups", "window", "qualify", "having",
}


def _rewrite_order_null_defaults(toks: list[str]) -> list[str]:
    """Default NULL placement differs: DuckDB orders NULLS LAST in both
    directions, Spark puts NULLS FIRST on ascending sorts — silent
    row-selection drift under LIMIT and wrong rank() numbering. Append
    an explicit NULLS LAST to every ORDER BY item (statement-level and
    window specs) that neither names a NULLS placement nor is DESC
    (descending defaults agree). Runs after the calls pass, so
    in-aggregate ORDER BY modifiers are already consumed."""
    out: list[str] = []
    i = 0
    n = len(toks)
    while i < n:
        if not (toks[i].lower() == "order" and i + 1 < n
                and toks[i + 1].lower() == "by"):
            out.append(toks[i])
            i += 1
            continue
        out.extend([toks[i], toks[i + 1]])
        i += 2
        item: list[str] = []
        depth = 0

        def flush(item: list[str]) -> list[str]:
            if not item:
                return item
            lows = [t.lower() for t in item]
            if len(lows) >= 2 and lows[-2] == "nulls":
                return item
            if lows[-1] == "desc":
                return item
            return item + ["NULLS", "LAST"]

        while i < n:
            t = toks[i]
            low = t.lower()
            if t == "(":
                depth += 1
            elif t == ")":
                if depth == 0:
                    break  # end of window spec / subquery
                depth -= 1
            if depth == 0 and (low in _ORDER_ITEM_STOP or t == ";"):
                break
            if depth == 0 and t == ",":
                out.extend(flush(item) + [","])
                item = []
                i += 1
                continue
            item.append(t)
            i += 1
        out.extend(flush(item))
    return out


def transpile(sql: str, spark: SparkSession | None = None) -> str:
    """DuckDB-dialect SQL → Spark SQL text."""
    if _handle_create_macro(sql):
        return "SELECT 'macro registered' AS status"
    sql = _rewrite_at_version(sql, spark)
    sql = _rewrite_replacement_scans(sql, spark)
    sql = _rewrite_window_exclude(sql)
    sql = _rewrite_asof(sql)
    sql = _rewrite_distinct_on(sql)
    sql = _rewrite_qualify(sql)
    toks = _tokens(sql)
    toks = _strip_trailing_commas(toks)
    toks = _rewrite_current_setting(toks, spark)
    toks = _rewrite_columns_expr(toks, spark)
    toks = _rewrite_bit_casts(toks)
    toks = _rewrite_limit_percent(toks, spark)
    _PENDING_SEQ.clear()
    toks = _expand_macros(toks)
    toks = _rewrite_sequences(toks)
    toks = _rewrite_enum_named(toks)
    toks = _rewrite_enum_anonymous(toks)
    toks = _rewrite_time_literals(toks)
    toks = _rewrite_collate(toks)
    toks = _rewrite_let_subqueries(toks)
    toks = _rewrite_struct_literals(toks)
    toks = _rewrite_star_modifiers(toks, spark)
    toks = _rewrite_intdiv(toks)
    toks = _rewrite_hex_casts(toks)
    toks = _rewrite_composite_types(toks)
    toks = _rewrite_array_type_suffix(toks)
    toks = _rewrite_list_comprehensions(toks)
    toks = _rewrite_list_literals(toks)
    toks = _rewrite_subscripts(toks)
    toks = _rewrite_filter_clause(toks)
    toks = _rewrite_window_inheritance(toks)
    toks = _rewrite_mad(toks)
    toks = _rewrite_array_overlap(toks)
    toks = _rewrite_lambda_parens(toks)
    toks = _rewrite_method_calls(toks)
    toks = _rewrite_json_arrows(toks)
    toks = _rewrite_at_time_zone(toks)
    toks = _rewrite_similar_to(toks)
    toks = _rewrite_pg_operators(toks)
    toks = _rewrite_date_interval_arith(toks)
    toks = _rewrite_bit_shifts(toks)
    toks = _rewrite_time_carriers(toks)
    _refuse_carriers_in_values(toks)
    toks = _rewrite_struct_json_casts(toks)
    toks = _rewrite_multiword_type_literals(toks)
    toks = _rewrite_mixed_intervals(toks)
    toks = _rewrite_typenames(toks)
    toks = _rewrite_any_all(toks)
    toks = _rewrite_date_sub_days(toks)
    toks = _rewrite_using_sample(toks)
    toks = _rewrite_glob(toks)
    toks = _rewrite_by_all(toks)
    toks = _rewrite_group_aliases(toks)
    toks = _rewrite_from_unnest(toks)
    toks = _rewrite_split_to_table(toks)
    toks = _rewrite_unnest(toks)
    toks = _rewrite_from_table_fns(toks)
    toks = _rewrite_calls(toks)
    toks = _rewrite_order_null_defaults(toks)
    return " ".join(_escape_spark_literal(t) for t in toks)


#: statement-level commands that need the session, not just text rewrite
#: (reference: EXPORT/IMPORT enum duckdb.hpp:12001-12002, COPY TO
#: duckdb-4.cpp:4689)
_EXPORT_RE = re.compile(
    r"^\s*EXPORT\s+DATABASE\s+'([^']+)'\s*(?:\(\s*FORMAT\s+'?(\w+)'?\s*\))?\s*;?\s*$",
    re.I,
)
_IMPORT_RE = re.compile(r"^\s*IMPORT\s+DATABASE\s+'([^']+)'\s*;?\s*$", re.I)
_COPY_RE = re.compile(
    r"^\s*COPY\s+(\w+|\(.*\))\s+TO\s+'([^']+)'\s*(?:\((.*)\))?\s*;?\s*$",
    re.I | re.DOTALL,
)


def _parse_copy_options(opts: str | None) -> dict:
    out: dict = {}
    for part in re.split(r",", opts or ""):
        part = part.strip()
        if not part:
            continue
        m = re.match(r"(\w+)\s*(.*)", part)
        key, val = m.group(1).lower(), m.group(2).strip().strip("'")
        if key == "format":
            out["format"] = val.lower()
        elif key == "header":
            out["header"] = val.lower() not in ("false", "0")
        elif key in ("delimiter", "delim", "sep"):
            out["delim"] = val
        elif key == "compression":
            out["compression"] = val
        elif key == "partition_by":
            out["partition_by"] = [
                c.strip() for c in val.strip("()").split(",") if c.strip()
            ]
        else:
            raise UnsupportedSQL(f"COPY option {key!r}")
    return out


def _rewrite_any_all(toks: list[str]) -> list[str]:
    """`x = ANY (SELECT …)` → `x IN (…)`; `x <> ALL (SELECT …)` →
    `x NOT IN (…)` (PG quantified comparisons over subqueries — the
    forms DuckDB users paste; other operators/array operands stay
    untouched and fail loudly downstream)."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            i + 2 < len(toks)
            and toks[i + 1].lower() in ("any", "some", "all")
            and toks[i + 2] == "("
            and i + 3 < len(toks)
            and toks[i + 3].lower() in ("select", "with")
        ):
            op, quant = toks[i], toks[i + 1].lower()
            if op == "=" and quant in ("any", "some"):
                out.append("IN")
                i += 2
                continue
            if op in ("<>", "!=") and quant == "all":
                out += ["NOT", "IN"]
                i += 2
                continue
        out.append(toks[i])
        i += 1
    return out


def _rewrite_date_sub_days(toks: list[str]) -> list[str]:
    """`CAST(x AS DATE) - CAST(y AS DATE)` → `datediff(…)` — DuckDB's
    date−date yields integer days, Spark's yields an INTERVAL. Narrow
    (explicit double-cast) form only: without schema info a bare
    `col1 - col2` cannot be typed at the token level."""
    i = 0
    while i < len(toks):
        if toks[i].lower() == "cast" and i + 1 < len(toks) and toks[i + 1] == "(":
            e1 = _find_call_end(toks, i + 1)
            left = toks[i : e1 + 1]
            if (
                [t.lower() for t in left[-3:]] == ["as", "date", ")"]
                and e1 + 2 < len(toks)
                and toks[e1 + 1] == "-"
                and toks[e1 + 2].lower() == "cast"
                and toks[e1 + 3] == "("
            ):
                e2 = _find_call_end(toks, e1 + 3)
                right = toks[e1 + 2 : e2 + 1]
                if [t.lower() for t in right[-3:]] == ["as", "date", ")"]:
                    toks = (
                        toks[:i]
                        + ["datediff", "("] + left + [","] + right + [")"]
                        + toks[e2 + 1 :]
                    )
                    i += 1
                    continue
        i += 1
    # the other two date-typed shapes: `x::DATE - y::DATE` and
    # `DATE 'a' - DATE 'b'` (mixed combinations allowed)
    i = 0
    while i < len(toks):
        if toks[i] != "-":
            i += 1
            continue
        lstart = -1
        if i >= 2 and toks[i - 1].lower() == "date" and toks[i - 2] == "::":
            lstart = _primary_start(toks, i)  # absorbs the :: chain
        elif i >= 2 and _is_string(toks[i - 1]) and toks[i - 2].lower() == "date":
            lstart = i - 2
        if lstart < 0:
            i += 1
            continue
        j = i + 1
        rtoks, rend = None, -1
        if j + 1 < len(toks) and toks[j].lower() == "date" and _is_string(toks[j + 1]):
            rtoks, rend = toks[j : j + 2], j + 2
        else:
            if j < len(toks) and toks[j] == "(":
                pe = _find_call_end(toks, j)
            elif j < len(toks) and _IDENT.match(toks[j]):
                pe = (_find_call_end(toks, j + 1)
                      if j + 1 < len(toks) and toks[j + 1] == "(" else j)
            elif j < len(toks) and _is_string(toks[j]):
                pe = j
            else:
                pe = -1
            if (pe >= 0 and pe + 2 < len(toks) and toks[pe + 1] == "::"
                    and toks[pe + 2].lower() == "date"):
                rtoks, rend = toks[j : pe + 3], pe + 3
        if rtoks is None:
            i += 1
            continue
        left = toks[lstart:i]
        toks = (toks[:lstart] + ["datediff", "("] + left + [","] + rtoks
                + [")"] + toks[rend:])
        i = lstart
    return toks


def _rewrite_from_unnest(toks: list[str]) -> list[str]:
    """FROM-position unnest — `FROM t, unnest(X) AS a(c)` (PG/DuckDB
    table-function form) → LATERAL VIEW explode at the end of the FROM
    clause. Bare `FROM unnest(X) ...` gets a synthetic one-row base."""
    i = 0
    clause_stack = ["select"]  # current clause per nesting level
    while i < len(toks):
        low = toks[i].lower()
        if low == "(":
            clause_stack.append("select")
            i += 1
            continue
        if low == ")":
            if len(clause_stack) > 1:
                clause_stack.pop()
            i += 1
            continue
        if low in ("select", "from") or low in _FROM_ENDERS:
            clause_stack[-1] = "from" if low == "from" else "other"
            i += 1
            continue
        if low == "unnest" and i + 1 < len(toks) and toks[i + 1] == "(":
            prev = toks[i - 1].lower() if i > 0 else ""
            # only the table-function position: inside a FROM clause,
            # directly after FROM or a comma (never a select-list unnest)
            if clause_stack[-1] != "from" or prev not in (",", "from"):
                i += 1
                continue
            end = _find_call_end(toks, i + 1)
            x_toks = toks[i + 2 : end]
            j = end + 1
            alias, col = "__qs_t", "unnest"
            if j < len(toks) and toks[j].lower() == "as":
                j += 1
            if j < len(toks) and re.fullmatch(r"\w+", toks[j]) and toks[j].lower() not in _FROM_ENDERS:
                alias = toks[j]
                col = alias  # bare alias names the column too (DuckDB)
                j += 1
                if j < len(toks) and toks[j] == "(":
                    cend = _find_call_end(toks, j)
                    cols = [t for t in toks[j + 1 : cend] if t != ","]
                    if len(cols) != 1:
                        raise UnsupportedSQL("FROM unnest alias takes one column")
                    col = cols[0]
                    j = cend + 1
            # cut the table-fn span (and its leading comma connector)
            cut_from = i - 1 if prev == "," else i
            head, tail = toks[:cut_from], toks[j:]
            if prev == "from":
                head = head + ["(", "SELECT", "1", ")", "__qs_one"]
            # insert LATERAL VIEW before the next clause keyword
            depth = 0
            insert_at = len(tail)
            for k, t in enumerate(tail):
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and t.lower() in _FROM_ENDERS:
                    insert_at = k
                    break
            lateral = (
                ["LATERAL", "VIEW", "explode", "("] + x_toks + [")"]
                + [alias, "AS", col]
            )
            toks = head + tail[:insert_at] + lateral + tail[insert_at:]
            i = 0  # restart: indexes shifted
            clause_stack = ["select"]
            continue
        i += 1
    return toks


def _rewrite_split_to_table(toks: list[str]) -> list[str]:
    """`regexp_split_to_table(s, re)` → `unnest(str_split_regex(s, re))`
    ahead of the unnest pass, which then emits the LATERAL VIEW."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        if (
            toks[i].lower() == "regexp_split_to_table"
            and i + 1 < len(toks)
            and toks[i + 1] == "("
        ):
            end = _find_call_end(toks, i + 1)
            inner = toks[i + 2 : end]
            out += ["unnest", "(", "str_split_regex", "("] + inner + [")", ")"]
            i = end + 1
        else:
            out.append(toks[i])
            i += 1
    return out


def _dot_sql(a: str, b: str) -> str:
    """Elementwise-product left fold — the Spark SQL text form of
    operators/simsearch.dot (list_dot_product / cosine family)."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


#: format_bytes unit ladder (duckdb-6.cpp string-util family): binary
#: prefixes, ONE decimal truncated toward zero, PiB capped
_BYTE_UNITS = [("KiB", 1024), ("MiB", 1024**2), ("GiB", 1024**3),
               ("TiB", 1024**4), ("PiB", 1024**5)]


def _parse_path_sql(p: str) -> str:
    """Path-component list: absolute paths lead with their separator as
    the first element (verified against DuckDB parse_path)."""
    sep_split = f"filter(split(substr({p}, 2), '[/\\\\\\\\]'), x -> x != '')"
    rel_split = f"filter(split({p}, '[/\\\\\\\\]'), x -> x != '')"
    return (
        f"(CASE WHEN left({p}, 1) IN ('/', '\\\\') THEN "
        f"concat(array(left({p}, 1)), {sep_split}) "
        f"ELSE {rel_split} END)"
    )


def _format_bytes_decimal_sql(n: str) -> str:
    """formatReadableDecimalSize: powers of 1000 (kB/MB/…), one decimal."""
    arms = [
        f"WHEN abs({n}) < 1000 THEN concat(CAST({n} AS STRING), ' B')"
    ]
    units = [("kB", 10**3), ("MB", 10**6), ("GB", 10**9), ("TB", 10**12),
             ("PB", 10**15)]
    for unit, div in units[:-1]:
        arms.append(
            f"WHEN abs({n}) < {div * 1000} THEN "
            f"concat(format_string('%.1f', CAST(CAST(CAST({n} AS DOUBLE) * 10 / {div} "
            f"AS BIGINT) AS DOUBLE) / 10), ' {unit}')"
        )
    unit, div = units[-1]
    arms.append(
        f"ELSE concat(format_string('%.1f', CAST(CAST(CAST({n} AS DOUBLE) * 10 / {div} "
        f"AS BIGINT) AS DOUBLE) / 10), ' {unit}')"
    )
    return "(CASE " + " ".join(arms) + " END)"


def _format_bytes_sql(n: str) -> str:
    arms = [
        f"WHEN abs({n}) < 1024 THEN concat(CAST({n} AS STRING), "
        f"CASE WHEN abs({n}) = 1 THEN ' byte' ELSE ' bytes' END)"
    ]
    for unit, div in _BYTE_UNITS[:-1]:
        arms.append(
            f"WHEN abs({n}) < {div * 1024} THEN "
            f"concat(format_string('%.1f', CAST(CAST(CAST({n} AS DOUBLE) * 10 / {div} "
            f"AS BIGINT) AS DOUBLE) / 10), ' {unit}')"
        )
    unit, div = _BYTE_UNITS[-1]
    arms.append(
        f"ELSE concat(format_string('%.1f', CAST(CAST(CAST({n} AS DOUBLE) * 10 / {div} "
        f"AS BIGINT) AS DOUBLE) / 10), ' {unit}')"
    )
    return "(CASE " + " ".join(arms) + " END)"


def _split_top_level_union(toks: list[str]) -> tuple[list[str], list[str], bool]:
    """Split CTE body tokens at the top-level UNION [ALL]; returns
    (base, step, union_all)."""
    depth = 0
    for i, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t.lower() == "union":
            if i + 1 < len(toks) and toks[i + 1].lower() == "all":
                return toks[:i], toks[i + 2 :], True
            return toks[:i], toks[i + 1 :], False
    raise UnsupportedSQL("recursive CTE body needs a top-level UNION [ALL]")


def _run_recursive(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """`WITH RECURSIVE name [(cols)] AS (base UNION [ALL] step) tail` —
    entry point A for the reference's RECURSIVE_CTE operator
    (duckdb-4.cpp:7608), evaluated by operators/recursive.py's distributed
    fixpoint: each round re-runs the step SQL with the CTE name bound to
    the previous frontier (working-table semantics)."""
    from quackspark.operators.recursive import recursive_cte

    toks = _tokens(duckdb_sql)
    low = [t.lower() for t in toks]
    if low[:2] != ["with", "recursive"]:
        return None
    # Parse the whole CTE list: RECURSIVE marks the *clause*, not the first
    # CTE — DuckDB (Postgres grammar) lets plain CTEs precede/follow the
    # self-referencing one. Plain bodies materialize as temp views in
    # order; the self-referencing body runs the distributed fixpoint.
    i = 2
    ctes: list[tuple[str, list[str] | None, list[str]]] = []
    while True:
        name = toks[i]
        i += 1
        cols: list[str] | None = None
        if toks[i] == "(":
            end = _find_call_end(toks, i)
            cols = [t for t in toks[i + 1 : end] if t != ","]
            i = end + 1
        if low[i] != "as" or toks[i + 1] != "(":
            raise UnsupportedSQL("WITH RECURSIVE requires AS (...)")
        body_end = _find_call_end(toks, i + 1)
        ctes.append((name, cols, toks[i + 2 : body_end]))
        i = body_end + 1
        if i < len(toks) and toks[i] == ",":
            i += 1
            continue
        break
    tail = " ".join(toks[i:])

    def _refs_table(body: list[str], name: str) -> bool:
        # self-reference means the name in TABLE position (after FROM /
        # JOIN / a FROM-list comma) — a column aliased to the CTE's own
        # name (`... AS sig` inside CTE `sig`) is not recursion
        nl = name.lower()
        return any(
            t.lower() == nl
            and k > 0
            and body[k - 1].lower() in ("from", "join", ",")
            for k, t in enumerate(body)
        )

    recursive = [(n, c, b) for n, c, b in ctes if _refs_table(b, n)]
    if len(recursive) > 1:
        raise UnsupportedSQL("multiple self-referencing CTEs")
    rec_name = recursive[0][0] if recursive else None
    # materialize the CTE list IN DECLARATION ORDER: plain CTEs may
    # precede the self-referencing one (feeding its base/step) or follow
    # it (consuming its fixpoint) — both directions must resolve
    for n, cols, body in ctes:
        if n == rec_name:
            base_toks, step_toks, union_all = _split_top_level_union(body)
            base_df = spark.sql(transpile(" ".join(base_toks), spark))
            if cols:
                base_df = base_df.toDF(*cols)
            out_cols = cols or base_df.columns

            def step(frontier: DataFrame) -> DataFrame:
                frontier.createOrReplaceTempView(n)
                out = spark.sql(transpile(" ".join(step_toks), spark))
                return out.toDF(*out_cols)

            result = recursive_cte(base_df, step, union_all=union_all)
            result.createOrReplaceTempView(n)
        else:
            df = spark.sql(transpile(" ".join(body), spark))
            if cols:
                df = df.toDF(*cols)
            df.createOrReplaceTempView(n)
    if not recursive:
        return spark.sql(transpile(tail, spark)) if tail else None
    if not tail:
        tail = f"SELECT * FROM {rec_name}"
    return spark.sql(transpile(tail, spark))


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _parse_pivot_source(
    toks: list[str], i: int
) -> tuple[str, int]:
    """Parse `<ident>` or `(subquery)` starting at i; returns (sql, next)."""
    if toks[i] == "(":
        end = _find_call_end(toks, i)
        return " ".join(toks[i + 1 : end]), end + 1
    return toks[i], i + 1


def _run_pivot(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """DuckDB friendly PIVOT (grammar: `PIVOT src ON col USING agg [AS a]
    [, ...] [GROUP BY ...] [tail]`) compiled to a conditional aggregation —
    the same lowering DuckDB itself performs. Column naming matches DuckDB:
    sorted distinct values; `{value}` for a single agg, `{value}_{alias}`
    for several. count(*) yields 0 for empty cells, other aggs NULL (both
    verified against DuckDB).

    Scale posture: the distinct-value probe is one small aggregation (the
    ON column must be low-cardinality for a pivot to make sense); the
    pivot itself is a single groupBy with N_values × N_aggs conditional
    aggregates — one shuffle, map-side partials, no per-value passes."""
    toks = _tokens(duckdb_sql)
    low = [t.lower() for t in toks]
    if not low or low[0] != "pivot":
        return None
    src, i = _parse_pivot_source(toks, 1)
    if low[i] != "on":
        raise UnsupportedSQL("PIVOT requires ON <column>")
    on_col = toks[i + 1]
    i += 2
    if i < len(low) and low[i] == "using":
        i += 1
    else:
        raise UnsupportedSQL("PIVOT requires USING <aggregate>")
    # aggregate list: expr [AS alias] (, ...)
    aggs: list[tuple[str, str | None]] = []
    while i < len(toks):
        depth = 0
        start = i
        alias = None
        while i < len(toks):
            t, lo = toks[i], low[i]
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and lo in ("group", "order", "limit", ","):
                break
            elif depth == 0 and lo == "as":
                alias = toks[i + 1]
                break
            i += 1
        expr = " ".join(toks[start : i if alias is None else i - 0])
        if alias is not None:
            expr = " ".join(toks[start:i])
            i += 2  # skip AS alias
        aggs.append((expr, alias))
        if i < len(toks) and toks[i] == ",":
            i += 1
            continue
        break
    group_cols: list[str] = []
    if i < len(low) and low[i] == "group":
        i += 2
        while i < len(toks) and low[i] not in ("order", "limit"):
            if toks[i] != ",":
                group_cols.append(toks[i])
            i += 1
    tail = " ".join(toks[i:])
    src_spark = transpile(src, spark) if " " in src else src
    src_df = spark.sql(f"SELECT * FROM ({src_spark})") if " " in src else spark.table(src)
    if not group_cols:
        used = {t.lower() for a, _ in aggs for t in _tokens(a)}
        group_cols = [
            c for c in src_df.columns if c.lower() != on_col.lower() and c.lower() not in used
        ]
    # distinct-value probe is CAPPED: an unbounded collect() on a
    # high-cardinality ON column would OOM the driver (DuckDB caps its
    # own pivot at ~100k columns; 10k output columns is already past
    # what any consumer handles)
    probe = spark.sql(
        f"SELECT DISTINCT {on_col} FROM ({src_spark}) __qs_pv"
    ).limit(PIVOT_MAX_VALUES + 1).collect()
    if len(probe) > PIVOT_MAX_VALUES:
        raise UnsupportedSQL(
            f"PIVOT ON {on_col} has more than {PIVOT_MAX_VALUES} distinct "
            f"values — a pivot that wide is almost certainly a mistake; "
            f"use GROUP BY {on_col} instead, or pre-filter the ON column"
        )
    vals = sorted(r[0] for r in probe if r[0] is not None)
    items: list[str] = list(group_cols)
    for v in vals:
        for expr, alias in aggs:
            name = f"{v}_{alias}" if alias else str(v)
            cond = f"{on_col} = {_sql_literal(v)}"
            m = re.fullmatch(r"(\w+)\s*\(\s*(.*?)\s*\)", expr, re.DOTALL)
            if not m:
                raise UnsupportedSQL(f"PIVOT USING must be agg(expr): {expr}")
            fn, arg = m.group(1), m.group(2)
            if fn.lower() == "count" and arg == "*":
                e = f"count(CASE WHEN {cond} THEN 1 END)"
            else:
                e = f"{fn}(CASE WHEN {cond} THEN {transpile(arg, spark)} END)"
            items.append(f"{e} AS `{name}`")
    built = (
        f"SELECT {', '.join(items)} FROM ({src_spark}) __qs_pivot "
        f"GROUP BY {', '.join(group_cols)} "
        + (transpile(tail, spark) if tail else "")
    )
    return spark.sql(built)


def _run_unpivot(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """DuckDB friendly UNPIVOT (`UNPIVOT src ON c1, c2 ... INTO NAME n
    VALUE v [tail]`) → Spark stack() lateral view; NULL cells excluded,
    matching DuckDB's default."""
    toks = _tokens(duckdb_sql)
    low = [t.lower() for t in toks]
    if not low or low[0] != "unpivot":
        return None
    src, i = _parse_pivot_source(toks, 1)
    if low[i] != "on":
        raise UnsupportedSQL("UNPIVOT requires ON <columns>")
    i += 1
    on_cols: list[str] = []
    while i < len(toks) and low[i] != "into":
        if toks[i] != ",":
            on_cols.append(toks[i])
        i += 1
    if low[i : i + 2] != ["into", "name"]:
        raise UnsupportedSQL("UNPIVOT requires INTO NAME <n> VALUE <v>")
    name_col = toks[i + 2]
    if low[i + 3] != "value":
        raise UnsupportedSQL("UNPIVOT requires INTO NAME <n> VALUE <v>")
    val_col = toks[i + 4]
    tail = " ".join(toks[i + 5 :])
    src_spark = transpile(src, spark) if " " in src else src
    src_df = spark.sql(f"SELECT * FROM ({src_spark})") if " " in src else spark.table(src)
    others = [c for c in src_df.columns if c.lower() not in {c2.lower() for c2 in on_cols}]
    stack_args = ", ".join(f"'{c}', {c}" for c in on_cols)
    sel = ", ".join([*others, name_col, val_col])
    built = (
        f"SELECT {sel} FROM ({src_spark}) __qs_unpivot "
        f"LATERAL VIEW stack({len(on_cols)}, {stack_args}) __qs_s "
        f"AS {name_col}, {val_col} "
        f"WHERE {val_col} IS NOT NULL "
        + (transpile(tail, spark) if tail else "")
    )
    return spark.sql(built)


def _run_union_by_name(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """UNION [ALL] BY NAME (DuckDB set-op extension): columns are matched
    by name, missing ones filled with NULL — exactly Spark's
    ``unionByName(allowMissingColumns=True)``, so the arms run through the
    normal frontend and combine DataFrame-side. UNION BY NAME (no ALL)
    deduplicates the combined result (verified against DuckDB)."""
    toks = _tokens(duckdb_sql)
    low = [t.lower() for t in toks]
    # depth-0 boundaries of UNION [ALL] BY NAME
    bounds: list[tuple[int, int, bool]] = []  # (start, end_exclusive, is_all)
    depth = 0
    for i, t in enumerate(low):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t == "union":
            if low[i + 1 : i + 4] == ["all", "by", "name"]:
                bounds.append((i, i + 4, True))
            elif low[i + 1 : i + 3] == ["by", "name"]:
                bounds.append((i, i + 3, False))
    if not bounds:
        return None
    if low[0] == "with":
        raise UnsupportedSQL(
            "CTE over UNION BY NAME — inline the CTE or use the DataFrame API"
        )
    arms: list[list[str]] = []
    flags: list[bool] = []
    pos = 0
    for s, e, is_all in bounds:
        arms.append(toks[pos:s])
        flags.append(is_all)
        pos = e
    arms.append(toks[pos:])
    for arm in arms[1:]:
        d = 0
        for t in arm:
            if t == "(":
                d += 1
            elif t == ")":
                d -= 1
            elif d == 0 and t.lower() in ("union", "intersect", "except"):
                raise UnsupportedSQL(
                    "mixed plain/BY NAME set operations — parenthesize the arms"
                )
    # trailing ORDER BY / LIMIT / OFFSET of the last arm bind the whole set-op
    last = arms[-1]
    d = 0
    cut = len(last)
    for k, t in enumerate(last):
        if t == "(":
            d += 1
        elif t == ")":
            d -= 1
        elif d == 0 and (
            t.lower() in ("limit", "offset")
            or (t.lower() == "order" and k + 1 < len(last) and last[k + 1].lower() == "by")
        ):
            cut = k
            break
    tail = " ".join(last[cut:])
    arms[-1] = last[:cut]
    acc = sql(spark, " ".join(arms[0]))
    for arm, is_all in zip(arms[1:], flags):
        acc = acc.unionByName(sql(spark, " ".join(arm)), allowMissingColumns=True)
        if not is_all:
            acc = acc.dropDuplicates()
    if tail:
        acc.createOrReplaceTempView("__qs_ubn")
        return spark.sql(transpile(f"SELECT * FROM __qs_ubn {tail}", spark))
    return acc


class PreparedStatementError(UnsupportedSQL):
    """EXECUTE/PREPARE misuse — message spellings mirror the reference's
    Binder/InvalidInput errors (pinned live against duckdb 1.x).
    Subclasses UnsupportedSQL so callers that treated the earlier
    ddl.py-era EXECUTE errors as frontend refusals keep working."""


#: PREPARE registry — name (lowered) → raw statement text. Re-PREPARE
#: replaces (reference: Connection::Prepare stores into the connection's
#: prepared-statement map, duckdb-7.cpp:3423; statement enums
#: duckdb.hpp:11998-11999). Process-global like _MACROS: the engine is
#: one logical connection per process.
_PREPARED: dict[str, str] = {}

_PREPARE_RE = re.compile(
    r"^\s*PREPARE\s+(\w+)\s+AS\s+(.+?)\s*;?\s*$", re.I | re.DOTALL
)
_EXECUTE_RE = re.compile(
    r"^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$", re.I | re.DOTALL
)
_DEALLOCATE_RE = re.compile(
    r"^\s*DEALLOCATE\s+(?:PREPARE\s+)?(\w+)\s*;?\s*$", re.I
)


def _prepared_params(body: str) -> list[tuple[int, int, int | str]]:
    """Scan a prepared body for parameter markers in CODE segments only
    (strings/identifiers/dollar-quotes/comments skipped by
    :func:`_sql_segments`): ``?`` (auto-numbered in order of
    appearance), ``$1`` (explicit ordinal), ``$name`` (named). Returns
    (start, end, key) spans, key int for positional."""
    spans: list[tuple[int, int, int | str]] = []
    auto = 0
    for kind, a, b in _sql_segments(body):
        if kind != "code":
            continue
        i = a
        while i < b:
            ch = body[i]
            if ch == "?":
                auto += 1
                spans.append((i, i + 1, auto))
                i += 1
            elif ch == "$" and (m := re.match(r"\$(\d+)", body[i:b])):
                spans.append((i, i + m.end(), int(m.group(1))))
                i += m.end()
            elif ch == "$" and (m := re.match(r"\$([A-Za-z_]\w*)", body[i:b])):
                spans.append((i, i + m.end(), m.group(1).lower()))
                i += m.end()
            else:
                i += 1
    return spans


def _split_top_commas(text: str) -> list[str]:
    """Split a comma list on its top-level commas — outside (), [], {}
    and every quoted or comment span :func:`_sql_segments` knows. Used for
    EXECUTE's argument list (an arg may be a constant expression like
    ``10+11`` or a list literal) and ON CONFLICT's DO UPDATE SET list."""
    parts: list[str] = []
    depth = 0
    buf: list[str] = []
    for kind, a, b in _sql_segments(text):
        if kind != "code":
            buf.append(text[a:b])
            continue
        for ch in text[a:b]:
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(buf))
                buf = []
                continue
            buf.append(ch)
    if buf or parts:
        parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _run_prepared(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """PREPARE / EXECUTE / DEALLOCATE statement spellings (VERDICT r11
    missing #1) — the literal forms scripted DuckDB workloads emit,
    dispatched onto the engine's existing per-statement machinery: the
    body is stored raw, EXECUTE splices the (validated) argument texts
    over the parameter markers and re-enters :func:`sql`, so the bound
    statement re-transpiles and reaches DML/DDL/SELECT handling exactly
    as if typed. All error spellings pinned live vs duckdb 1.x."""
    if m := _PREPARE_RE.match(duckdb_sql):
        name, body = m.group(1).lower(), m.group(2)
        _prepared_params(body)  # scan now so a malformed body fails at PREPARE
        _PREPARED[name] = body
        return local_frame(spark, [(f"PREPARE {name}",)], "status string")
    if m := _DEALLOCATE_RE.match(duckdb_sql):
        # unknown name is NOT an error (pinned live)
        name = m.group(1).lower()
        _PREPARED.pop(name, None)
        return local_frame(spark, [(f"DEALLOCATE {name}",)], "status string")
    if m := _EXECUTE_RE.match(duckdb_sql):
        name, argtext = m.group(1).lower(), m.group(2) or ""
        if name not in _PREPARED:
            raise PreparedStatementError(
                f'Prepared statement "{m.group(1)}" does not exist'
            )
        body = _PREPARED[name]
        spans = _prepared_params(body)
        pos_args: dict[int, str] = {}
        named_args: dict[str, str] = {}
        for arg in _split_top_commas(argtext):
            if am := re.match(r"^([A-Za-z_]\w*)\s*:=\s*(.+)$", arg, re.DOTALL):
                named_args[am.group(1).lower()] = am.group(2)
            else:
                pos_args[len(pos_args) + 1] = arg
        for a in list(pos_args.values()) + list(named_args.values()):
            if re.search(r"\bSELECT\b", a, re.I):
                raise PreparedStatementError(
                    "Only scalar parameters, named parameters or NULL "
                    "supported for EXECUTE"
                )
        named_needed = {k for *_, k in spans if isinstance(k, str)}
        pos_needed = {k for *_, k in spans if isinstance(k, int)}
        # error spellings pinned live: too-FEW (named or ordinal) is
        # "Values were not provided …", too-MANY is "Parameter
        # argument/count mismatch, identifiers of the excess …"
        missing = sorted(named_needed - set(named_args)) + [
            str(i) for i in sorted(pos_needed - set(pos_args))
        ]
        if missing:
            raise PreparedStatementError(
                "Values were not provided for the following prepared "
                f"statement parameters: {', '.join(missing)}"
            )
        excess = sorted(set(pos_args) - (pos_needed or set()))
        if excess:
            raise PreparedStatementError(
                "Parameter argument/count mismatch, identifiers of the "
                f"excess parameters: {', '.join(map(str, excess))}"
            )
        bound = body
        for start, end, key in sorted(spans, reverse=True):
            val = pos_args[key] if isinstance(key, int) else named_args[key]
            # single-token literals splice bare (downstream literal-type
            # heuristics — e.g. len()'s string-vs-list split — must still
            # see them); only multi-token constant expressions need parens
            if len(_tokens(val)) > 1:
                val = f"({val})"
            bound = f"{bound[:start]}{val}{bound[end:]}"
        return sql(spark, bound)
    return None


def _run_statement(spark: SparkSession, duckdb_sql: str) -> DataFrame | None:
    """Handle non-SELECT statements (EXPORT/IMPORT DATABASE, COPY TO);
    returns a status DataFrame or None if the text is not one of them."""
    from quackspark.sources.csvio import copy_to
    from quackspark.sources.exportdb import export_database, import_database

    handled = _run_prepared(spark, duckdb_sql)
    if handled is not None:
        return handled

    # VACUUM / ANALYZE / VACUUM ANALYZE [table] (vendored PG grammar
    # VacuumStmt; the reference recomputes table stats and returns an
    # empty 'Success' result — pinned live). Spark's analog for a real
    # managed table is ANALYZE TABLE … COMPUTE STATISTICS; temp-view
    # corpora have no persisted stats object, so the recompute is a
    # no-op there exactly as DuckDB's is for in-memory tables.
    if m := re.match(
        r"^\s*(?:VACUUM(?:\s+ANALYZE)?|ANALYZE)\s*([\w.]+)?\s*;?\s*$",
        duckdb_sql,
        re.I,
    ):
        target = m.group(1)
        if target:
            try:
                spark.sql(f"ANALYZE TABLE {target} COMPUTE STATISTICS")
            except Exception:
                # temp view / external frame: nothing to persist stats on
                spark.table(target)  # still raise loudly on unknown names
        return local_frame(spark, [], "Success string")
    # CALL fn(args) — DuckDB's statement spelling for running a table
    # function (vendored PG CallStmt); same resolution as FROM-position
    if m := re.match(r"^\s*CALL\s+(\w+\s*\(.*\))\s*;?\s*$", duckdb_sql,
                     re.I | re.DOTALL):
        return sql(spark, f"SELECT * FROM {m.group(1)}")
    # USE db[.schema] — DuckDB's default-namespace switch (Success on
    # main/memory spellings; Catalog Error on unknown — ours raises
    # Spark's AnalysisException, same loud class)
    if m := re.match(r"^\s*USE\s+([\w.]+)\s*;?\s*$", duckdb_sql, re.I):
        target = m.group(1)
        if target.lower() not in ("main", "memory", "memory.main", "temp",
                                  "system"):
            spark.sql(f"USE {target.split('.')[0]}")
        return local_frame(spark, [], "Success string")
    # TRUNCATE [TABLE] t → DELETE FROM t through the DML path (a log
    # rewrite; transactions apply); DuckDB returns the deleted row count
    # as a one-row 'Count' result
    if m := re.match(
        r"^\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+)\s*;?\s*$", duckdb_sql, re.I
    ):
        target = m.group(1)
        cnt = spark.table(target).count()
        sql(spark, f"DELETE FROM {target}")
        return local_frame(spark, [(cnt,)], "Count bigint")

    if m := re.match(
        r"^\s*(?:SET|RESET)\s+(?:SESSION\s+|GLOBAL\s+)?(\S.*?)\s*;?\s*$",
        duckdb_sql,
        re.I,
    ):
        # SET/RESET go to Spark verbatim — re-tokenizing `a.b.c = v`
        # inserts spaces Spark's SET parser rejects. The Postgres
        # `SET key TO value` form DuckDB accepts normalizes to `=`.
        kv = re.sub(r"\s*=\s*", "=", m.group(1))
        kv = re.sub(r"^(\S+)\s+TO\s+", r"\1=", kv, flags=re.I)
        verb = duckdb_sql.lstrip().split(None, 1)[0].upper()
        return spark.sql(f"{verb} {kv}")

    if m := re.match(
        r"^\s*PRAGMA\s+(\w+)\s*=\s*(\S.*?)\s*;?\s*$", duckdb_sql, re.I
    ):
        # assignment-form pragmas (PRAGMA memory_limit='2GB') are DuckDB
        # settings → Spark session conf (arbitrary keys are accepted);
        # `versioned_tables` is one that nothing reads: every table has a log
        return spark.sql(f"SET {m.group(1)}={m.group(2)}")

    if m := _EXPORT_RE.match(duckdb_sql):
        manifest = export_database(spark, m.group(1), format=(m.group(2) or "parquet").lower())
        return local_frame(spark, sorted(manifest.items()), "table string, path string")
    if m := _IMPORT_RE.match(duckdb_sql):
        names = import_database(spark, m.group(1))
        return local_frame(spark, [(n,) for n in sorted(names)], "table string")
    if m := re.match(
        r"^\s*ATTACH\s+(?:DATABASE\s+)?'([^']+)'\s+AS\s+(\w+)"
        r"\s*(?:\(\s*READ_ONLY\s*\))?\s*;?\s*$",
        duckdb_sql,
        re.I,
    ):
        # reference ATTACH (duckdb.hpp:11990): an exported-database dir
        # becomes a Spark database of external parquet tables, queryable
        # as alias.table — the dotted-namespace semantics of the original.
        # A native single-file .duckdb database attaches through the
        # Arrow-streaming bridge (sources/duckfile.py).
        src, alias = m.group(1), m.group(2)
        if os.path.isfile(src):
            from quackspark.sources.duckfile import attach_duckdb_file

            names = attach_duckdb_file(spark, src, alias)
            return local_frame(
                spark, [(alias, n) for n in sorted(names)], "db string, table string"
            )
        with open(os.path.join(src, "load.json")) as fh:
            meta = json.load(fh)
        if meta.get("format") != "parquet":
            raise UnsupportedSQL("ATTACH supports parquet exports")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {alias}")
        for tname, rel in meta["tables"].items():
            path = os.path.abspath(os.path.join(src, rel))
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {alias}.{tname} "
                f"USING parquet LOCATION '{path}'"
            )
        return local_frame(
            spark,
            [(alias, n) for n in sorted(meta["tables"])], "db string, table string"
        )
    if m := re.match(r"^\s*DETACH\s+(?:DATABASE\s+)?(\w+)\s*;?\s*$", duckdb_sql, re.I):
        alias = m.group(1)
        spark.sql(f"DROP DATABASE IF EXISTS {alias} CASCADE")
        return local_frame(spark, [(alias,)], "detached string")
    if m := re.match(
        r"^\s*EXPLAIN\s+(ANALYZE\s+)?(.+)$", duckdb_sql, re.I | re.DOTALL
    ):
        # reference EXPLAIN / EXPLAIN ANALYZE (duckdb.hpp:11995-11996).
        # ANALYZE runs the query and returns per-operator SQLMetrics rows
        # (the profiled-metrics surface a DuckDB user's
        # pragma_last_profiling_output scripts consume); plain EXPLAIN
        # stays plan text.
        df = spark.sql(transpile(m.group(2), spark))
        if m.group(1):
            from quackspark.catalog import explain_analyze

            return explain_analyze(df)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        return local_frame(
            spark, [(line,) for line in plan.splitlines()], "explain_output string"
        )
    # DESCRIBE / SHOW statement shorthands (r10 verdict missing #1: the
    # vendored PG grammar parses these into the same table functions the
    # PRAGMA spellings reach, duckdb-libpg_query.cpp) — dispatch order
    # matters: the fixed forms (SHOW TABLES / SHOW ALL TABLES / bare
    # DESCRIBE) before the generic DESCRIBE|SHOW <relation>
    if re.match(r"^\s*SHOW\s+TABLES\s*;?\s*$", duckdb_sql, re.I) or re.match(
        r"^\s*(?:DESCRIBE|DESC)\s+TABLES\s*;?\s*$", duckdb_sql, re.I
    ):
        from quackspark.catalog import _INTERNAL_PREFIX, duckdb_tables

        return (
            duckdb_tables(spark)
            .filter(f"table_name NOT LIKE '{_INTERNAL_PREFIX}%'")
            .selectExpr("table_name AS name")
            .orderBy("name")
        )
    if re.match(
        r"^\s*(?:SHOW\s+ALL\s+TABLES|DESCRIBE|DESC)\s*;?\s*$", duckdb_sql, re.I
    ):
        from quackspark.catalog import show_all_tables

        return show_all_tables(spark)
    if re.match(r"^\s*SHOW\s+DATABASES\s*;?\s*$", duckdb_sql, re.I):
        from quackspark.catalog import duckdb_schemas

        return (
            duckdb_schemas(spark)
            .selectExpr("schema_name AS database_name")
            .distinct()
            .orderBy("database_name")
        )
    if m := re.match(
        r"^\s*(?:DESCRIBE|DESC|SHOW)\s+(.+?)\s*;?\s*$",
        duckdb_sql,
        re.I | re.DOTALL,
    ):
        from quackspark.catalog import describe_frame, describe_relation

        inner = m.group(1)
        if re.match(r"^\s*(SELECT|WITH|FROM|VALUES)\b", inner, re.I):
            return describe_frame(spark.sql(transpile(inner, spark)))
        return describe_relation(spark, inner)
    if m := re.match(r"^\s*SUMMARIZE\s+(.+?)\s*;?\s*$", duckdb_sql, re.I | re.DOTALL):
        from quackspark.catalog import summarize

        inner = m.group(1)
        df = (
            spark.sql(transpile(inner, spark))
            if re.match(r"^\s*(SELECT|WITH|FROM)\b", inner, re.I)
            else spark.table(inner)
        )
        return summarize(df)
    if m := re.match(
        r"^\s*PRAGMA\s+(\w+)\s*(?:\(\s*'?([\w.]*)'?\s*\))?\s*;?\s*$", duckdb_sql, re.I
    ):
        from quackspark.catalog import duckdb_tables, pragma_table_info

        pragma, arg = m.group(1).lower(), m.group(2)
        if pragma == "table_info" and arg:
            return pragma_table_info(spark, arg)
        if pragma == "show_tables":
            return duckdb_tables(spark).select("table_name")
        if pragma == "version":
            return local_frame(spark, [(spark.version,)], "library_version string")
        if pragma == "last_profiling_output":
            from quackspark.catalog import last_profiling_output

            return last_profiling_output(spark)
        if pragma == "table_versions" and arg:
            from quackspark import versioned as _versioned

            return _versioned.versions_df(spark, arg)
        if pragma == "vacuum_versioned" and arg:
            from quackspark import versioned as _versioned
            from quackspark.sources.commitlog import VersionedTable as _VT
            from urllib.parse import urlparse as _urlparse

            wh = _urlparse(
                spark.conf.get("spark.sql.warehouse.dir", "")
            ).path
            removed = _VT(os.path.join(wh, arg.lower())).vacuum()
            return local_frame(
                spark, [(f,) for f in removed] or [], "removed_file string"
            )
        raise UnsupportedSQL(f"PRAGMA {pragma}")
    if m := re.match(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TYPE\s+(\w+)\s+AS\s+ENUM\s*"
        r"\(\s*(.*?)\s*\)\s*;?\s*$",
        duckdb_sql,
        re.I | re.DOTALL,
    ):
        # reference CREATE TYPE … AS ENUM (duckdb.hpp:944 LogicalTypeId
        # ENUM; function family duckdb-5.cpp:11590)
        name = m.group(1).lower()
        labels = [
            _str_val(t) for t in _tokens(m.group(2)) if _is_string(t)
        ]
        if not labels or len(set(labels)) != len(labels):
            raise UnsupportedSQL(
                "CREATE TYPE AS ENUM needs distinct quoted labels"
            )
        _ENUM_TYPES[name] = labels
        return local_frame(spark, [(name, len(labels))], "type string, n_labels int")
    if m := re.match(
        r"^\s*DROP\s+TYPE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", duckdb_sql, re.I
    ):
        name = m.group(2).lower()
        if name not in _ENUM_TYPES and not m.group(1):
            raise UnsupportedSQL(f"DROP TYPE: unknown type {name}")
        _ENUM_TYPES.pop(name, None)
        return local_frame(spark, [(name,)], "dropped string")
    if m := re.match(
        r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?SEQUENCE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
        r"(\w+)(.*?);?\s*$",
        duckdb_sql,
        re.I | re.DOTALL,
    ):
        name, rest = m.group(1).lower(), m.group(2)
        # NO MINVALUE/NO MAXVALUE/NO CYCLE mean "the default" — strip them
        # so the value regexes below can't mis-bind
        rest = re.sub(r"\bNO\s+(MINVALUE|MAXVALUE|CYCLE)\b", "", rest, flags=re.I)
        inc = 1
        if im := re.search(r"\bINCREMENT\s+(?:BY\s+)?(-?\d+)", rest, re.I):
            inc = int(im.group(1))
        if inc == 0:
            raise UnsupportedSQL("CREATE SEQUENCE: INCREMENT must be non-zero")
        # DuckDB defaults (duckdb-6.cpp sequence binder): ascending →
        # [1, 2^63-1] starting at MINVALUE; descending → [-(2^63-1), -1]
        # starting at MAXVALUE
        minv = 1 if inc > 0 else -(2**63 - 1)
        maxv = 2**63 - 1 if inc > 0 else -1
        if vm := re.search(r"\bMINVALUE\s+(-?\d+)", rest, re.I):
            minv = int(vm.group(1))
        if vm := re.search(r"\bMAXVALUE\s+(-?\d+)", rest, re.I):
            maxv = int(vm.group(1))
        start = minv if inc > 0 else maxv
        if sm := re.search(r"\bSTART\s+(?:WITH\s+)?(-?\d+)", rest, re.I):
            start = int(sm.group(1))
        if not minv <= start <= maxv:
            raise UnsupportedSQL(
                f"CREATE SEQUENCE: START {start} outside [{minv}, {maxv}]"
            )
        cycle = bool(re.search(r"\bCYCLE\b", rest, re.I))
        _SEQUENCES[name] = {
            "start": start,
            "inc": inc,
            "next": start,
            "last": None,
            "min": minv,
            "max": maxv,
            "cycle": cycle,
        }
        # persist the cursor so OTHER sessions sharing the warehouse see
        # the sequence and claim disjoint id blocks (_claim_sequence_blocks)
        if path := _seq_file(spark, name):
            state = dict(_SEQUENCES[name])
            state.pop("last")
            _seq_write(path, state)
        return local_frame(spark, [(name,)], "sequence string")
    if m := re.match(
        r"^\s*DROP\s+SEQUENCE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", duckdb_sql, re.I
    ):
        _SEQUENCES.pop(m.group(1).lower(), None)
        if path := _seq_file(spark, m.group(1).lower()):
            with contextlib.suppress(OSError):
                os.unlink(path)
        return local_frame(spark, [(m.group(1).lower(),)], "dropped string")
    if m := _COPY_RE.match(duckdb_sql):
        src, path, opts = m.group(1), m.group(2), _parse_copy_options(m.group(3))
        if src.startswith("("):
            df = spark.sql(transpile(src[1:-1], spark))
        else:
            df = spark.table(src)
        copy_to(df, path, **{"format": opts.pop("format", "csv"), **opts})
        return local_frame(spark, [(path,)], "path string")
    return None


class TransactionError(ValueError):
    """Raised for transaction-protocol violations (BEGIN inside a
    transaction, COMMIT/ROLLBACK without one) — mirroring the reference's
    TransactionException (duckdb-internal.hpp:10232 MVCC machinery)."""


class ConcurrentWriteError(RuntimeError):
    """A sequence's warehouse-shared cursor file stayed locked by another
    session (see _claim_sequence_blocks). Table writes never raise it:
    they commit through the log and conflict with the retryable
    CommitConflict."""


def _split_statements(script: str) -> list[str]:
    """Split a script on top-level semicolons. Lexical skipping comes
    from :func:`_sql_segments` (ONE scanner since r12): a `;` inside a
    string, E-string, quoted identifier, dollar-quoted string, line
    comment, or (nested) block comment is text, not a boundary — the
    r12 fuzz caught the previous hand-rolled copy treating a `'` inside
    `$tag$...$tag$` as a string opener and swallowing the split.
    Non-code segments are preserved verbatim in the emitted statements —
    the tokenizer drops comments later."""
    parts: list[str] = []
    buf: list[str] = []
    for kind, a, b in _sql_segments(script):
        if kind != "code":
            buf.append(script[a:b])
            continue
        seg = script[a:b]
        while (cut := seg.find(";")) != -1:
            buf.append(seg[:cut])
            parts.append("".join(buf))
            buf = []
            seg = seg[cut + 1:]
        buf.append(seg)
    parts.append("".join(buf))
    return [p for p in (x.strip() for x in parts) if p]


#: zero-arg catalog table functions usable in FROM position (reference
#: registers them as real table functions, duckdb-6.cpp:14150-14176; the
#: PRAGMA and SHOW statement spellings already reach the same helpers)
_CATALOG_TVFS = (
    "duckdb_tables",
    "duckdb_views",
    "duckdb_schemas",
    "duckdb_sequences",
    "duckdb_functions",
    "duckdb_constraints",
    "duckdb_databases",
    "duckdb_indexes",
    "duckdb_keywords",
    "duckdb_settings",
    "duckdb_types",
    "pragma_version",
    "pragma_platform",
    "pg_timezone_names",
)


def _rewrite_catalog_tablefns(spark: SparkSession, sql_text: str) -> str:
    """Replacement scan for catalog table functions in query position —
    `SELECT … FROM duckdb_tables()` / `FROM pragma_table_info('t')`
    (r12; previously only the PRAGMA/SHOW statement spellings worked).
    Each mention materializes the catalog helper's (small, metadata-
    sized) result into a temp view and the call text is substituted with
    the view name; only code segments are rewritten, so the names inside
    strings or comments stay text."""
    low = sql_text.lower()
    if ("duckdb_" not in low and "pragma_table_info" not in low
            and "pragma_version" not in low and "pragma_platform" not in low
            and "pg_timezone_names" not in low
            and "test_vector_types" not in low):
        return sql_text
    from quackspark import catalog as _cat

    # a match counts only when the FUNCTION NAME sits in a code segment
    # (the call's string argument is its own segment, and a name inside
    # a string literal or comment must stay text)
    code = [(a, b) for kind, a, b in _sql_segments(sql_text) if kind == "code"]

    def _in_code(pos: int) -> bool:
        return any(a <= pos < b for a, b in code)

    n_pti = 0
    edits: list[tuple[int, int, str]] = []
    for m in re.finditer(
        r"\b(" + "|".join(_CATALOG_TVFS) + r")\s*\(\s*\)", sql_text, re.I
    ):
        if not _in_code(m.start()):
            continue
        name = m.group(1).lower()
        view = f"__qs_tvf_{name}"
        getattr(_cat, name)(spark).createOrReplaceTempView(view)
        edits.append((m.start(), m.end(), view))
    n_tvt = 0
    for m in re.finditer(r"\btest_vector_types\s*\(([^()]*)\)", sql_text, re.I):
        if not _in_code(m.start()):
            continue
        # args are typed prototypes (NULL::INT, 'a'::VARCHAR); named args
        # like all_flat=true select a vector ENCODING — on Spark that is
        # Tungsten's concern, the emitted values are identical → ignored
        types: list[str] = []
        for a in m.group(1).split(","):
            a = a.strip()
            if not a or "=" in a:
                continue
            if "::" in a:
                types.append(a.rsplit("::", 1)[1].strip())
            else:
                raise UnsupportedSQL(
                    f"test_vector_types argument {a!r}: use a typed "
                    f"prototype (NULL::INT)"
                )
        n_tvt += 1
        view = f"__qs_tvf_tvt_{n_tvt}"
        _cat.test_vector_types(spark, types).createOrReplaceTempView(view)
        edits.append((m.start(), m.end(), view))
    for m in re.finditer(
        r"\bpragma_table_info\s*\(\s*'((?:[^']|'')*)'\s*\)", sql_text, re.I
    ):
        if not _in_code(m.start()):
            continue
        n_pti += 1
        view = f"__qs_tvf_pti_{n_pti}"
        _cat.pragma_table_info(
            spark, m.group(1).replace("''", "'")
        ).createOrReplaceTempView(view)
        edits.append((m.start(), m.end(), view))
    for start, end, view in sorted(edits, reverse=True):
        sql_text = f"{sql_text[:start]}{view}{sql_text[end:]}"
    return sql_text


def sql(spark: SparkSession, duckdb_sql: str) -> DataFrame:
    """Entry point A: run DuckDB-dialect SQL on Spark. Multi-statement
    scripts run sequentially; the last statement's result is returned
    (the reference's Connection::Query behaves the same,
    duckdb-7.cpp:3375)."""
    from quackspark.session import prepare_session

    # UDF-backed functions (damerau_levenshtein, jaro_winkler_similarity,
    # …) and DuckDB arithmetic semantics must hold even on a session the
    # caller built bare (VERDICT r5 #4: fe_damerau UNRESOLVED_ROUTINE).
    prepare_session(spark)
    # versioned (commit-log) tables: re-pin any referenced view whose log
    # tip advanced — another session's commit becomes visible here
    from quackspark import versioned as _versioned

    _versioned.sync_referenced(spark, duckdb_sql)
    stmts = _split_statements(duckdb_sql)
    if len(stmts) > 1:
        result: DataFrame | None = None
        for s in stmts:
            result = sql(spark, s)
        assert result is not None
        return result
    duckdb_sql = stmts[0] if stmts else duckdb_sql
    from quackspark import ddl

    handled = ddl._run_txn(spark, duckdb_sql)
    if handled is not None:
        return handled
    handled = ddl._run_insert_returning(spark, duckdb_sql)
    if handled is not None:
        return handled
    handled = _run_statement(spark, duckdb_sql)
    if handled is None:
        handled = ddl.run_ddl(spark, duckdb_sql)
    if handled is None:
        handled = ddl._run_dml(spark, duckdb_sql)
    if handled is None:
        handled = _run_recursive(spark, duckdb_sql)
    if handled is None and re.search(r"\bBY\s+NAME\b", duckdb_sql, re.I):
        handled = _run_union_by_name(spark, duckdb_sql)
    if handled is None and re.match(r"\s*PIVOT\b", duckdb_sql, re.I):
        handled = _run_pivot(spark, duckdb_sql)
    if handled is None and re.match(r"\s*UNPIVOT\b", duckdb_sql, re.I):
        handled = _run_unpivot(spark, duckdb_sql)
    if handled is not None:
        return handled
    duckdb_sql = _rewrite_catalog_tablefns(spark, duckdb_sql)
    df = spark.sql(transpile(duckdb_sql, spark))
    if _PENDING_SEQ:
        # a sequence was consumed: count the statement's rows (one extra
        # execution — sequences are serial by nature), atomically claim
        # that block on the warehouse-shared cursor, and if another
        # session moved the cursor since transpile, re-emit the statement
        # from the claimed start so concurrent sessions never overlap ids
        pending = list(dict.fromkeys(_PENDING_SEQ))
        n = df.count()
        if _claim_sequence_blocks(spark, pending, n):
            _PENDING_SEQ.clear()
            df = spark.sql(transpile(duckdb_sql, spark))
        advance_sequences(n)
    return df
