"""DuckDB CREATE MACRO support — bind-time inline expansion.

DuckDB macros (scalar `CREATE MACRO f(a, b := 1) AS a + b` and table
`CREATE MACRO t(x) AS TABLE SELECT ...`) are untyped SQL templates expanded
at bind time, not functions with a runtime calling convention. The faithful
Spark mapping is therefore the same move at the routing layer: store the
parameter list + body text, and textually inline every call site (balanced
parentheses, string-literal-safe, named `p := v` and default arguments
honored) before the statement reaches Spark SQL. No UDF is registered and
nothing runs per-row in Python — after expansion the plan is ordinary
Catalyst-optimized SQL, exactly as DuckDB's binder would produce.

Reference reach: macros arrive through the passthrough surface
(`db/db.go:52,70`); syntax per the public DuckDB docs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .dialect import UnsupportedDialect
from .sqltext import close_of, literal_mask, split_literals, split_top

_MAX_EXPANSION_ROUNDS = 16

_CREATE_RE = re.compile(
    r"^CREATE\s+(OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?MACRO\s+(\w+)\s*\(",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    r"^DROP\s+MACRO\s+(IF\s+EXISTS\s+)?(\w+)\s*$", re.IGNORECASE
)
_IDENT_CALL_RE = re.compile(r"\b(\w+)\s*\(")


@dataclass
class MacroDef:
    name: str
    params: list[str]
    defaults: dict[str, str] = field(default_factory=dict)
    body: str = ""
    is_table: bool = False

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "params": self.params,
            "defaults": self.defaults,
            "body": self.body,
            "is_table": self.is_table,
        }

    @classmethod
    def from_json(cls, d: dict) -> "MacroDef":
        return cls(
            name=d["name"],
            params=list(d["params"]),
            defaults=dict(d.get("defaults", {})),
            body=d["body"],
            is_table=bool(d.get("is_table", False)),
        )


def parse_create_macro(sql: str) -> MacroDef | None:
    """Parse CREATE [OR REPLACE] [TEMP] MACRO name(params) AS [TABLE] body.
    Returns None if the statement is not CREATE MACRO."""
    m = _CREATE_RE.match(sql.strip())
    if m is None:
        return None
    name = m.group(2).lower()
    open_idx = sql.find("(", m.start(2))
    close_idx = close_of(sql, open_idx)
    if close_idx < 0:
        raise UnsupportedDialect("CREATE MACRO: unbalanced parameter list")
    raw_params = sql[open_idx + 1 : close_idx - 1]
    rest = sql[close_idx:].strip()
    mas = re.match(r"^AS\s+(TABLE\s+)?(.+)$", rest, re.IGNORECASE | re.DOTALL)
    if mas is None:
        raise UnsupportedDialect("CREATE MACRO: expected AS <expression>")
    is_table = bool(mas.group(1))
    body = mas.group(2).strip().rstrip(";")

    params: list[str] = []
    defaults: dict[str, str] = {}
    for p in split_top(raw_params):
        dm = re.match(r"^(\w+)\s*:=\s*(.+)$", p, re.DOTALL)
        if dm:
            params.append(dm.group(1).lower())
            defaults[dm.group(1).lower()] = dm.group(2).strip()
        elif re.fullmatch(r"\w+", p):
            params.append(p.lower())
        else:
            raise UnsupportedDialect(f"CREATE MACRO: bad parameter {p!r}")
    return MacroDef(name=name, params=params, defaults=defaults, body=body, is_table=is_table)


def parse_drop_macro(sql: str) -> tuple[str, bool] | None:
    m = _DROP_RE.match(sql.strip())
    if m is None:
        return None
    return m.group(2).lower(), bool(m.group(1))


def _substitute_params(body: str, binding: dict[str, str]) -> str:
    """Replace parameter identifiers in the macro body with their
    (parenthesized) argument text — only in code chunks, never inside
    string literals."""
    if not binding:
        return body
    pat = re.compile(
        r"\b(" + "|".join(re.escape(p) for p in binding) + r")\b", re.IGNORECASE
    )

    def repl_chunk(chunk: str) -> str:
        return pat.sub(lambda m: "(" + binding[m.group(1).lower()] + ")", chunk)

    return "".join(
        chunk if is_lit else repl_chunk(chunk) for is_lit, chunk in split_literals(body)
    )


def _bind_args(mac: MacroDef, args: list[str]) -> dict[str, str]:
    """Positional-then-named argument binding with defaults, DuckDB-style."""
    binding: dict[str, str] = dict(mac.defaults)
    pos_idx = 0
    seen_named = False
    for a in args:
        nm = re.match(r"^(\w+)\s*:=\s*(.+)$", a, re.DOTALL)
        if nm:
            seen_named = True
            pname = nm.group(1).lower()
            if pname not in mac.params:
                raise UnsupportedDialect(
                    f"macro {mac.name}: unknown named argument {pname!r}"
                )
            binding[pname] = nm.group(2).strip()
        else:
            if seen_named:
                raise UnsupportedDialect(
                    f"macro {mac.name}: positional argument after named argument"
                )
            if pos_idx >= len(mac.params):
                raise UnsupportedDialect(
                    f"macro {mac.name}: too many arguments ({len(args)} given, "
                    f"{len(mac.params)} declared)"
                )
            binding[mac.params[pos_idx]] = a
            pos_idx += 1
    missing = [p for p in mac.params if p not in binding]
    if missing:
        raise UnsupportedDialect(f"macro {mac.name}: missing argument(s) {missing}")
    return binding


def expand_macros(sql: str, macros: dict[str, MacroDef]) -> str:
    """Inline every macro call site in `sql`. Iterates so macros may call
    macros (cycle-capped). String literals are never touched; call-site
    argument lists are split at top-level commas only."""
    if not macros:
        return sql
    for _ in range(_MAX_EXPANSION_ROUNDS):
        expanded = _expand_once(sql, macros)
        if expanded == sql:
            return sql
        sql = expanded
    raise UnsupportedDialect("macro expansion did not terminate (recursive macro?)")


def bind_prepared(template: str, args: list[str]) -> str:
    """Bind EXECUTE arguments into a PREPAREd template: `$1`..`$n` by index
    and `?` left-to-right, code chunks only (a `$1` inside a string literal
    is data, not a parameter). Arguments are SQL literal expressions and are
    inlined parenthesized — the same bind-time move DuckDB's PREPARE makes,
    minus the plan cache (Spark re-plans per call; Catalyst planning is not
    the bottleneck at analytics latencies)."""
    n_positional = 0

    def repl_dollar(m: re.Match) -> str:
        i = int(m.group(1))
        if not (1 <= i <= len(args)):
            raise UnsupportedDialect(
                f"prepared statement: parameter ${i} out of range ({len(args)} given)"
            )
        return "(" + args[i - 1] + ")"

    out = []
    for is_lit, chunk in split_literals(template):
        if is_lit:
            out.append(chunk)
            continue
        chunk = re.sub(r"\$(\d+)", repl_dollar, chunk)
        while "?" in chunk:
            if n_positional >= len(args):
                raise UnsupportedDialect(
                    f"prepared statement: more ? placeholders than arguments ({len(args)} given)"
                )
            chunk = chunk.replace("?", "(" + args[n_positional] + ")", 1)
            n_positional += 1
        out.append(chunk)
    return "".join(out)


def _expand_once(sql: str, macros: dict[str, MacroDef]) -> str:
    """Inline each outermost macro call site in code (not inside a string
    literal); calls nested in the arguments expand on the next round."""
    mask = literal_mask(sql)
    out, last = [], 0
    for m in _IDENT_CALL_RE.finditer(sql):
        at = m.start()
        if at < last or mask[at] or m.group(1).lower() not in macros:
            continue
        if at and re.match(r"[\w.]", sql[at - 1]):
            continue
        mac = macros[m.group(1).lower()]
        close_idx = close_of(sql, m.end() - 1)
        if close_idx < 0:
            raise UnsupportedDialect(f"macro {mac.name}: unbalanced call")
        binding = _bind_args(mac, split_top(sql[m.end() : close_idx - 1]))
        out.append(sql[last:at])
        out.append("(" + _substitute_params(mac.body, binding) + ")")
        last = close_idx
    out.append(sql[last:])
    return "".join(out)
