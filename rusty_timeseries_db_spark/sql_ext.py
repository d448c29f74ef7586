"""SQL dialect extensions: ASOF JOIN (SURVEY §2.2 J6) and QUALIFY.

Spark SQL has no ``ASOF JOIN`` syntax, so REPL/SQL users could only
reach ``operators/asof.py`` through the Python API. ``sql_with_asof``
closes that gap: it accepts the DuckDB-style ``ASOF JOIN`` clause
(public syntax: ``FROM l ASOF JOIN r ON l.k = r.k AND l.ts >= r.ts``),
rewrites that clause into the union+window as-of plan, and hands the
rest of the statement to ``spark.sql`` unchanged — the operator runs
on the same single-shuffle plan as the Python path (parity-tested in
tests/test_asof.py).

``sql_with_qualify`` accepts the DuckDB/Snowflake/BigQuery ``QUALIFY``
clause (filter on window-function results without a subquery) and
rewrites it to the equivalent nested form; ``sql`` applies both
rewrites — the entry point for pasted DuckDB-dialect statements.

Supported grammar (deliberately narrow and documented; anything else
raises ``ValueError`` rather than mis-parsing):

    SELECT ... FROM <ltable> [AS] [lalias]
        ASOF [LEFT] JOIN <rtable> [AS] [ralias]
        ON <eq> [AND <eq>]... AND <ineq>
    [WHERE/GROUP BY/ORDER BY/... rest passes through]

DuckDB join-type parity: bare ``ASOF JOIN`` is INNER — left rows
with no right match drop; ``ASOF LEFT JOIN`` keeps them with NULL
payloads (not the pandas LEFT default of the underlying operator), so
ported DuckDB statements get DuckDB answers; both forms are
oracle-paired against DuckDB running the ORIGINAL spelling natively.

- ``<eq>``: ``lalias.k = ralias.k`` — same column name on both sides
  (the as-of key);
- ``<ineq>``: exactly one of ``lalias.lts >= ralias.rts`` (backward —
  latest right row at or before the left timestamp) or
  ``lalias.lts <= ralias.rts`` (forward);
- both tables must be registered views (``spark.table``-resolvable);
- in the outer query, right-side payload columns are referenced as
  ``<col>_right`` (the operator's suffix convention) — unqualified or
  qualified by the LEFT alias; the right alias does not survive the
  rewrite.
"""

from __future__ import annotations

import itertools
import re
import threading

from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .operators.asof import asof_join

_VIEW_SEQ = itertools.count()


#: reentrancy guard for the JVM-side listener-bus suppression below —
#: nested probes (the block probe runs sql_with_qualify, which probes
#: again) must not restore the log level while an outer probe is
#: still in flight. `_probe_prior_level` holds the level captured
#: when the OUTERMOST probe turned the logger OFF, restored when the
#: depth returns to 0 (no hardcoded ERROR restore).
_PROBE_DEPTH_LOCK = threading.Lock()
_probe_depth = 0
_probe_prior_level: str | None = None

_LISTENER_BUS_LOGGER = "org.apache.spark.sql.util.ExecutionListenerBus"


def _set_listener_bus_level(spark: SparkSession, level_name: str) -> None:
    """Set the log4j2 level of the ExecutionListenerBus logger (the
    JVM logger that reports listener-thrown exceptions). Best-effort:
    silently a no-op where the JVM gateway is unavailable (Connect)."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            _LISTENER_BUS_LOGGER,
            getattr(jvm.org.apache.logging.log4j.Level, level_name),
        )
    except Exception:
        pass


def _get_listener_bus_level(spark: SparkSession) -> str | None:
    """The ExecutionListenerBus logger's EFFECTIVE log4j2 level name
    (inherited from an ancestor config when not explicitly set), or
    None where the JVM gateway is unavailable — captured before the
    probe window turns the logger OFF so restore puts back what the
    deployment actually configured, not a hardcoded ERROR (a user
    running this logger at WARN/DEBUG for their own diagnostics would
    otherwise come out of every probe at ERROR)."""
    try:
        jvm = spark.sparkContext._jvm
        return str(
            jvm.org.apache.logging.log4j.LogManager.getLogger(
                _LISTENER_BUS_LOGGER
            ).getLevel().toString()
        )
    except Exception:
        return None


def _drain_listener_bus(spark: SparkSession) -> None:
    """Wait for the async listener bus to drain — the ERROR a probe
    provokes is logged from the bus's own thread AFTER the probe's
    exception already propagated, so suppression must outlive the
    probe until the event is processed."""
    try:
        # bounded: a busy background stream keeps posting events; two
        # seconds is plenty for the probe's own failure event and a
        # TimeoutException here just means the (rare) residual trace
        # may slip through — hygiene, not correctness
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(2000)
    except Exception:
        pass


@contextmanager
def _quiet_probe_errors(spark: SparkSession):
    """Silence PySpark's ``SQLQueryContextLogger`` for the duration of
    a PROBE ``spark.sql`` call — one whose AnalysisException is an
    EXPECTED routing signal with a working fallback (the nested-
    QUALIFY standalone probe and the nested-vs-inline first attempt),
    not a user error.

    Also silences the JVM-side ``ExecutionListenerBus`` logger for the
    window, draining the async bus before restoring: a probe's failed
    analysis posts a
    failed-execution event, and once any ``Observation`` has run in
    the session, Spark 4's ObservationManager listener re-analyzes the
    failed plan inside ``onFailure`` and throws — the bus then logs a
    full 'Listener threw an exception' ERROR stack trace for every
    expected probe failure. The suppression is scoped to the probe
    window + drain (a genuine listener failure elsewhere logs again
    the moment the level restores), reentrancy-counted so nested
    probes don't un-suppress an outer window, and restores the level
    that was configured BEFORE the window (captured at the outermost
    entry; a hardcoded ERROR would be wrong for a deployment running
    this logger at WARN/DEBUG).

    Known blind spot, accepted: the log4j OFF is PROCESS-GLOBAL for
    the window (log4j levels cannot be thread-scoped the way the
    Python-side Filter below is), so a *concurrent* thread's genuine
    listener failure that fires inside a probe window is dropped
    entirely rather than logged late. The window is the analysis of
    one doomed statement plus a bounded 2 s bus drain, the listener
    in question only ever logs rethrown listener exceptions (never
    data corruption), and a genuine recurring failure re-logs on its
    next occurrence outside the window — narrowing further would
    need a log4j filter keyed on the probe's execution id, which the
    bus's message layout does not expose stably.

    Without this, every correlated nested-QUALIFY
    statement dumps two full ERROR stack traces into otherwise-clean
    parity/audit logs, burying real failures. The logger is the
    PYTHON-side structured logger Spark 4's
    error capture emits through (pyspark.logger machinery — the JSON
    lines carry the Py4J exception), and it logs in the thread whose
    ``spark.sql`` call raised, so suppression is a ``logging.Filter``
    keyed on THIS thread's ident (disabling the process-global logger
    would swallow a concurrent thread's genuine
    AnalysisException traces for the probe's duration) — restored on
    exit; the raised AnalysisException still carries the full message
    either way."""
    import logging

    # acquire through PySparkLogger.getLogger: the class is bound at
    # CREATION, so a plain logging.getLogger here (if it ran first)
    # would pin a vanilla Logger whose _log rejects the errorClass=
    # kwarg pyspark passes — a TypeError the old disabled=True
    # suppression masked by short-circuiting before _log
    try:
        from pyspark.logger import PySparkLogger

        logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    except ImportError:  # pragma: no cover - older pyspark layouts
        logger = logging.getLogger("SQLQueryContextLogger")
    ident = threading.get_ident()

    class _NotProbeThread(logging.Filter):
        def filter(self, record):  # noqa: A003 - logging API name
            return threading.get_ident() != ident

    flt = _NotProbeThread()
    logger.addFilter(flt)
    global _probe_depth, _probe_prior_level
    with _PROBE_DEPTH_LOCK:
        if _probe_depth == 0:
            _probe_prior_level = _get_listener_bus_level(spark)
            _set_listener_bus_level(spark, "OFF")
        _probe_depth += 1
    try:
        yield
    finally:
        logger.removeFilter(flt)
        with _PROBE_DEPTH_LOCK:
            _probe_depth -= 1
            if _probe_depth == 0:
                _drain_listener_bus(spark)
                # restore what was configured before the window;
                # ERROR only as the capture-failed fallback (it is
                # log4j2's default root level)
                _set_listener_bus_level(
                    spark, _probe_prior_level or "ERROR"
                )
                _probe_prior_level = None

_KEYWORDS = (
    r"WHERE|GROUP|ORDER|HAVING|LIMIT|WINDOW|UNION|INTERSECT|EXCEPT|QUALIFY"
)

_ASOF_RE = re.compile(
    rf"""
    \bFROM\s+
    (?P<lt>[\w.]+)
    (?:\s+(?:AS\s+)?(?!ASOF\b)(?P<la>\w+))?
    \s+ASOF\s+(?P<how>LEFT\s+)?JOIN\s+
    (?P<rt>[\w.]+)
    (?:\s+(?:AS\s+)?(?!ON\b)(?P<ra>\w+))?
    \s+ON\s+
    (?P<cond>.+?)
    (?=\s+(?:{_KEYWORDS})\b|\s*$)
    """,
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)

_COND_RE = re.compile(
    r"^\s*(\w+)\.(\w+)\s*(>=|<=|=)\s*(\w+)\.(\w+)\s*$", re.DOTALL
)


def sql_with_asof(
    spark: SparkSession, query: str, right_order: str | None = None
) -> DataFrame:
    """Run a SQL statement that may contain one DuckDB-style ``ASOF
    JOIN`` clause (see module docstring for the supported grammar).
    Statements without the clause pass straight to ``spark.sql``.

    ``right_order`` optionally names a right-side column that breaks
    ties among right rows sharing (key, ts) — the SQL clause itself has
    no tie-break syntax.
    """
    return spark.sql(_rewrite_asof(spark, query, right_order))


def _rewrite_asof(
    spark: SparkSession, query: str, right_order: str | None = None
) -> str:
    """Rewrite the ``ASOF JOIN`` clause (if present) into a reference
    to a temp view holding the as-of plan, returning the rewritten
    statement TEXT — so later rewrites (QUALIFY) can compose on it."""
    # match on a literal-masked copy (same length, same positions) so
    # the word ASOF inside a string literal is data, not syntax
    masked = _mask_string_literals(query)
    m = _ASOF_RE.search(masked)
    if m is None:
        if re.search(r"\bASOF\b", masked, re.IGNORECASE):
            raise ValueError(
                "ASOF present but not in the supported form "
                "'FROM l [AS a] ASOF [LEFT] JOIN r [AS b] ON ...'"
            )
        return query

    lt, la = m.group("lt"), m.group("la") or m.group("lt")
    rt, ra = m.group("rt"), m.group("ra") or m.group("rt")
    keys: list[str] = []
    ineq: tuple[str, str, str] | None = None  # (left_ts, right_ts, direction)
    for raw in re.split(r"\bAND\b", m.group("cond"), flags=re.IGNORECASE):
        cm = _COND_RE.match(raw)
        if cm is None:
            raise ValueError(f"unsupported ASOF ON condition: {raw.strip()!r}")
        q1, c1, op, q2, c2 = cm.groups()
        sides = {q1, q2}
        if sides != {la, ra} or (la == ra):
            raise ValueError(
                f"ASOF ON condition must relate {la!r} to {ra!r}: {raw.strip()!r}"
            )
        if op == "=":
            if c1 != c2:
                raise ValueError(
                    "ASOF equality keys must share a column name "
                    f"(got {q1}.{c1} = {q2}.{c2})"
                )
            keys.append(c1)
        else:
            if ineq is not None:
                raise ValueError("ASOF JOIN needs exactly one inequality")
            # normalize so the left table is on the left of the operator
            if q1 == la:
                lts, rts, lop = c1, c2, op
            else:
                lts, rts, lop = c2, c1, (">=" if op == "<=" else "<=")
            ineq = (lts, rts, "backward" if lop == ">=" else "forward")
    if ineq is None:
        raise ValueError("ASOF JOIN needs one timestamp inequality")
    if not keys:
        raise ValueError("ASOF JOIN needs at least one equality key")

    left_ts, right_ts, direction = ineq
    joined = asof_join(
        spark.table(lt),
        spark.table(rt),
        on=keys,
        left_ts=left_ts,
        right_ts=right_ts,
        right_order=right_order,
        direction=direction,
        # DuckDB semantics: bare ASOF JOIN is INNER —
        # unmatched left rows drop; ASOF LEFT JOIN keeps them with
        # NULL payloads. (The Python asof_join API defaults to
        # how="left" for pandas.merge_asof parity; the SQL surface
        # follows the dialect it spells.)
        how="left" if m.group("how") else "inner",
    )
    view = f"_asof_sql_{next(_VIEW_SEQ)}"
    joined.createOrReplaceTempView(view)
    alias = f" AS {m.group('la')}" if m.group("la") else ""
    return query[: m.start()] + f"FROM {view}{alias}" + query[m.end("cond"):]


# --------------------------------------------------------------- QUALIFY

_QUALIFY_KW = re.compile(r"\bQUALIFY\b", re.IGNORECASE)
_TRAILING_KW = re.compile(r"(?:ORDER\s+BY|LIMIT|WINDOW)\b", re.IGNORECASE)


def _mask_string_literals(query: str) -> str:
    """Same-length copy of ``query`` with single-quoted literal BODIES
    blanked, so keyword regexes cannot match words inside strings.
    Handles the two escape forms Spark accepts: doubled quotes (``''``
    — the toggle scan pairs them naturally) and backslash escapes
    (``'it\\'s'`` — a backslashed quote inside a literal must NOT flip
    the in-string state). Positions are preserved — indices
    found on the mask slice the original correctly."""
    out = list(query)
    i = 0
    in_str = False
    while i < len(out):
        c = out[i]
        if in_str and c == "\\" and i + 1 < len(out):
            # escaped char inside a literal: blank both, keep state
            out[i] = " "
            out[i + 1] = " "
            i += 2
            continue
        if c == "'":
            in_str = not in_str
        elif in_str:
            out[i] = " "
        i += 1
    return "".join(out)


def _top_level_qualify_matches(masked: str) -> list[re.Match]:
    """QUALIFY keyword occurrences at paren depth 0 of the masked
    statement. Callers extract nested (depth > 0) occurrences FIRST
    via ``_extract_nested_qualify`` — one reaching this function is a
    rewrite-ordering bug, so it raises rather than mis-parsing."""
    depth = 0
    top: list[re.Match] = []
    matches = list(_QUALIFY_KW.finditer(masked))
    if not matches:
        return []
    starts = {m.start(): m for m in matches}
    for i, c in enumerate(masked):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif i in starts:
            if depth > 0:
                raise ValueError(
                    "QUALIFY inside a subquery survived nested "
                    "extraction — rewrite-ordering bug; call "
                    "_extract_nested_qualify first"
                )
            top.append(starts[i])
    return top


#: '<name> [(cols)] AS (' — CTE definitions, INCLUDING the column-list
#: form ``WITH t(a, b) AS (...)`` (the plain form
#: missed it, letting a column-list CTE shadow a temp view silently).
#: Also matches WINDOW w AS (...), which only makes the scope guard
#: more conservative.
_CTE_DEF_RE = re.compile(
    r"\b([A-Za-z_]\w*)\s*(?:\([^()]*\))?\s+AS\s*\(", re.IGNORECASE
)



def _find_deepest_nested_qualify(
    masked: str,
    kw_re: "re.Pattern[str]" = _QUALIFY_KW,
) -> tuple[int, int] | None:
    """Locate the DEEPEST subquery-nested ``kw_re`` occurrence of the
    masked statement (QUALIFY by default; the DISTINCT ON rewrite
    reuses it with its own keyword): returns
    (open_paren_idx, close_paren_idx) of its enclosing parenthesized
    block, or None when every occurrence sits at paren depth 0 (or
    there is none). Deepest-first guarantees the extracted block
    contains no further nested occurrence of its own — any
    same-or-shallower occurrences live in OTHER blocks and are
    picked up by the caller's loop."""
    qstarts = {m.start() for m in kw_re.finditer(masked)}
    if not qstarts:
        return None
    stack: list[int] = []
    best: tuple[int, int] | None = None  # (depth, open_idx)
    for i, c in enumerate(masked):
        if c == "(":
            stack.append(i)
        elif c == ")":
            if stack:
                stack.pop()
        elif i in qstarts and stack:
            if best is None or len(stack) > best[0]:
                best = (len(stack), stack[-1])
    if best is None:
        return None
    open_idx = best[1]
    depth = 0
    for i in range(open_idx, len(masked)):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth == 0:
                return (open_idx, i)
    raise ValueError(
        "unbalanced parentheses around a nested QUALIFY clause"
    )


def _extract_nested_qualify(spark: SparkSession, query: str) -> str:
    """Nested-QUALIFY support: each parenthesized subquery containing a
    QUALIFY — derived table, IN/EXISTS body, scalar subquery, CTE
    body — is extracted INNERMOST-FIRST, run through the block-level
    rewrite recursively (``sql_with_qualify`` on the block text, so
    the established two-form nested/inline fallback and the
    ``__qualify`` column drop apply per block), registered as a temp
    view, and substituted back as ``(SELECT * FROM <view>)`` — the
    same view-substitution pattern the ASOF rewrite uses, valid in
    every subquery position. Returns statement text whose remaining
    QUALIFY clauses (if any) are all at paren depth 0.

    The substituted view is a LAZY DataFrame over the block's plan —
    Catalyst inlines it, so the final physical plan is identical to a
    hand-written nested-subquery rewrite (WindowGroupLimit still
    applies to row_number QUALIFYs; plan-asserted in tests).

    Blocks that CANNOT be planned standalone — a CTE body referencing
    a PRECEDING CTE of the same WITH clause, or a correlated subquery
    referencing outer-query columns — fall back to a pure-text rewrite
    left in place (``_textual_qualify_rewrite``), so those names
    resolve in their original scope when the full statement is planned
    (the view path is preferred when it works because
    its runtime two-form retry is more robust than the textual
    heuristic)."""
    while True:
        span = _find_deepest_nested_qualify(_mask_string_literals(query))
        if span is None:
            return query
        open_idx, close_idx = span
        block = query[open_idx + 1 : close_idx]
        if not _QUERY_START.match(block):
            raise ValueError(
                "QUALIFY inside a non-query parenthesis — the enclosing "
                f"block {block[:80]!r}... does not start a SELECT/WITH/"
                "VALUES/TABLE subquery"
            )
        # Scope guard: a block
        # referencing a CTE name defined ELSEWHERE in the statement
        # must not be planned standalone when that name ALSO resolves
        # in the session catalog (engine.register_views registers
        # 'telemetry'!) — standalone planning would silently read the
        # VIEW instead of the CTE. Silent-wrong-source is the only
        # failure mode needing a textual pre-route: a CTE name with NO
        # catalog entry makes standalone planning raise, and the
        # AnalysisException handler below goes textual anyway. So the
        # guard checks catalog existence FIRST (cheap, precise) and
        # only then word-matches the block — the broad word match is
        # safe here because it is scoped to names that genuinely exist
        # as tables (a FROM/JOIN-position regex
        # missed aliased comma-list and backticked references — false
        # NEGATIVES in the unsafe direction; the unscoped 2nd-pass
        # word match false-POSITIVED on select aliases and broke
        # working statements).
        outside = query[: open_idx + 1] + query[close_idx:]
        cte_names = {
            m.group(1).lower()
            for m in _CTE_DEF_RE.finditer(_mask_string_literals(outside))
        }
        shadowed = set()
        for name in cte_names:
            try:
                if spark.catalog.tableExists(name):
                    shadowed.add(name)
            except Exception:
                # unresolvable name (reserved word artifact of the
                # regex, etc.) cannot shadow anything
                continue
        block_words = {
            w.lower()
            for w in re.findall(r"[A-Za-z_]\w*", _mask_string_literals(block))
        }
        if shadowed & block_words:
            query = (
                query[: open_idx + 1]
                + _textual_qualify_rewrite(block)
                + query[close_idx:]
            )
            continue
        try:
            # probe: a correlated block's failure here is an expected
            # routing signal (the textual rewrite below handles it) —
            # keep its stack traces out of the logs
            with _quiet_probe_errors(spark):
                df = sql_with_qualify(spark, block)
        except AnalysisException:
            # scope-dependent block (correlated outer refs, ...):
            # rewrite in place, textually
            query = (
                query[: open_idx + 1]
                + _textual_qualify_rewrite(block)
                + query[close_idx:]
            )
            continue
        view = f"_qualify_sql_{next(_VIEW_SEQ)}"
        df.createOrReplaceTempView(view)
        query = (
            query[: open_idx + 1]
            + f"SELECT * FROM {view}"
            + query[close_idx:]
        )


def _split_qualify_pred(rest: str) -> tuple[str, str]:
    """Split text after QUALIFY into (predicate, trailing clauses).

    The predicate ends at the first PAREN-DEPTH-0 ORDER BY / LIMIT /
    WINDOW keyword — an ``ORDER BY`` inside the predicate's own
    ``OVER (...)`` must not terminate it, so a plain regex lookahead
    can't do this.
    """
    depth = 0
    i = 0
    while i < len(rest):
        c = rest[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "'":  # skip string literals
            j = rest.find("'", i + 1)
            i = len(rest) if j < 0 else j
        elif depth == 0 and c.isalpha():
            m = _TRAILING_KW.match(rest, i)
            # keyword must start at a word boundary
            if m and (i == 0 or not (rest[i - 1].isalnum() or rest[i - 1] == "_")):
                return rest[:i], rest[i:]
            while i + 1 < len(rest) and (rest[i + 1].isalnum() or rest[i + 1] == "_"):
                i += 1
        i += 1
    return rest, ""


def sql_with_qualify(spark: SparkSession, query: str) -> DataFrame:
    """Run a SQL statement that may end in a ``QUALIFY <predicate>``
    clause (DuckDB/Snowflake/BigQuery syntax Spark lacks): filter on
    window-function results without writing the subquery yourself.

    Rewrite: the statement minus QUALIFY becomes a subquery — its output
    is exactly the row set QUALIFY's windows are defined over — then the
    predicate is evaluated in an outer projection (window functions are
    legal there, unlike in ``WHERE``) and filtered on:

        SELECT <cols of q> FROM (
          SELECT *, (<predicate>) AS __qualify FROM (<q minus QUALIFY>)
        ) WHERE __qualify [trailing ORDER BY/LIMIT]

    The predicate may reference select-list aliases (``rn = 1``) or
    inline window functions (``row_number() OVER (...) = 1``) — both
    are columns/expressions over the subquery's output, matching the
    standard QUALIFY evaluation order (after WHERE/GROUP BY/HAVING).

    Predicates that reference the inner query's TABLE ALIASES
    (``l.k``) or aggregate inputs (``sum(v)`` under GROUP BY) cannot
    resolve in the nested form — those names don't survive the
    subquery boundary. For them a second form is tried: the predicate
    is INLINED into the original select list (where the FROM aliases
    are still in scope) and filtered one level up. The nested form is
    always tried first so select-list-alias references keep their
    established resolution.

    Exactly one QUALIFY per query block is supported (one top-level
    clause, plus any number of subquery-nested ones — each nested
    block is extracted and rewritten recursively by
    ``_extract_nested_qualify``). Statements without the
    clause pass straight to ``spark.sql``.
    """
    # detect on a literal-masked copy: QUALIFY inside a string literal
    # is data, not syntax ("WHERE note = 'QUALIFY pending'").
    # Subquery-nested QUALIFYs are extracted innermost-first into temp
    # views before the top-level rewrite below runs.
    query = _extract_nested_qualify(spark, query)
    matches = _top_level_qualify_matches(_mask_string_literals(query))
    if not matches:
        return spark.sql(query)
    if len(matches) > 1:
        raise ValueError("only one QUALIFY clause is supported")
    m = matches[0]
    pred, tail = _split_qualify_pred(query[m.end():])
    pred = pred.strip().rstrip(";")
    tail = tail.strip().rstrip(";")
    if not pred:
        raise ValueError("empty QUALIFY predicate")
    head = query[: m.start()].strip()
    inner = (
        f"SELECT *, ({pred}) AS __qualify FROM ({head}) __qualify_base"
    )
    outer = f"SELECT * FROM ({inner}) __qualify_filtered WHERE __qualify"
    if tail:
        outer += " " + tail
    inlined = _inline_qualify_form(head, pred, tail)
    # a dotted identifier in the predicate (l.k — not a function call)
    # references an inner-query alias, which CANNOT resolve in the
    # nested form; going inline first avoids a guaranteed analysis
    # failure (and the ERROR Spark logs for it) on the common composed
    # ASOF+QUALIFY statement
    first, second = (
        (inlined, outer)
        if (_prefers_inline_form(head, pred) and inlined)
        else (outer, inlined)
    )
    try:
        # when a second form exists, the first attempt is a probe —
        # its failure routes to the other form, so suppress the ERROR
        # trace Spark would log for it (a real failure raises below
        # with the full message either way)
        if second is not None:
            with _quiet_probe_errors(spark):
                return spark.sql(first).drop("__qualify")
        return spark.sql(first).drop("__qualify")
    except AnalysisException as first_err:
        if second is None:
            raise
        # the SECOND form is the final fallback, not a probe — when it
        # fails too, that failure is the user-facing one, so its ERROR
        # trace stays LOUD in the logs (only the
        # first attempt's expected routing failure is suppressed)
        try:
            return spark.sql(second).drop("__qualify")
        except AnalysisException:
            raise first_err from None


#: aggregate-function calls whose presence in a QUALIFY predicate
#: (under a GROUP BY head) routes the inline form first — window
#: functions like rank()/row_number() are absent deliberately: they
#: resolve fine in the nested form unless their OVER clause contains
#: one of these
_AGG_CALL_RE = re.compile(
    r"\b(?:sum|count|avg|mean|min|max|stddev(?:_samp|_pop)?|"
    r"var(?:iance)?(?:_samp|_pop)?|first|last|any_value|"
    r"collect_(?:list|set)|percentile(?:_approx)?|median|"
    r"approx_count_distinct|count_if|bool_(?:and|or)|"
    r"string_agg|listagg)\s*\(",
    re.IGNORECASE,
)


def _has_top_level_group_by(masked_head: str) -> bool:
    """True when the (masked) head carries a paren-depth-0 GROUP BY."""
    for mm in re.finditer(r"\bGROUP\s+BY\b", masked_head, re.IGNORECASE):
        depth = masked_head.count("(", 0, mm.start()) - masked_head.count(
            ")", 0, mm.start()
        )
        if depth == 0:
            return True
    return False


def _prefers_inline_form(head: str, pred: str) -> bool:
    """True when the predicate references names that cannot survive
    the nested form's subquery boundary, so the inline form should be
    tried (or chosen textually) first:

    - a dotted identifier (``l.k`` — not a function call) references
      an inner-query table alias; identifiers only — ``\\w+\\.\\w+``
      would also match decimal literals like 0.95 and wrongly flip
      the order;
    - an AGGREGATE call under a GROUP BY head (``rank() OVER (ORDER
      BY sum(v))``) — the aggregate's input columns don't survive the
      boundary either.
    """
    masked_pred = _mask_string_literals(pred)
    if re.search(r"\b[A-Za-z_]\w*\.[A-Za-z_]\w*\b(?!\s*\()", masked_pred):
        return True
    return bool(
        _AGG_CALL_RE.search(masked_pred)
        and _has_top_level_group_by(_mask_string_literals(head))
    )


def _inline_qualify_form(
    head: str, pred: str, tail: str, star: str = "*"
) -> str | None:
    """The fallback rewrite: predicate inlined into the original
    select list (same query block — table aliases and aggregate inputs
    resolve), filtered one level up. Returns None when the head has no
    top-level FROM to anchor on. ``star`` is the outer projection —
    the textual path passes ``* EXCEPT (__qualify)`` because it has no
    DataFrame ``.drop`` downstream."""
    masked = _mask_string_literals(head)
    depth = 0
    pos = -1
    for mm in re.finditer(r"\bFROM\b", masked, re.IGNORECASE):
        depth = masked.count("(", 0, mm.start()) - masked.count(
            ")", 0, mm.start()
        )
        if depth == 0:
            pos = mm.start()
            break
    if pos < 0:
        return None
    inner = f"{head[:pos]}, ({pred}) AS __qualify {head[pos:]}"
    outer = f"SELECT {star} FROM ({inner}) __qualify_base WHERE __qualify"
    return outer + (" " + tail if tail else "")


def _textual_qualify_rewrite(block: str) -> str:
    """Pure-TEXT rewrite of one query block ending in QUALIFY — no
    planning, no temp view. Used by ``_extract_nested_qualify`` for
    blocks that cannot be analyzed standalone (a CTE body referencing
    a PRECEDING CTE, or a correlated subquery referencing outer
    columns): the rewritten text stays in place, so those names
    resolve in their original scope when the FULL statement is
    planned. With no DataFrame downstream to ``.drop`` the helper
    column, ``__qualify`` is excluded via ``SELECT * EXCEPT``.

    Unlike the runtime path (which tries the nested form first and
    RETRIES on analysis failure), this path gets exactly one shot —
    so it always picks the INLINE form when the head has a FROM to
    anchor on: the predicate evaluates in the original query block,
    where table columns, aggregate inputs AND select-list aliases
    (lateral column alias resolution, Spark ≥3.4) all resolve; the
    nested form covers only the aliases. Headless blocks (no
    top-level FROM) fall back to the nested form."""
    matches = _top_level_qualify_matches(_mask_string_literals(block))
    if len(matches) != 1:
        raise ValueError("only one QUALIFY clause is supported per query block")
    m = matches[0]
    pred, tail = _split_qualify_pred(block[m.end():])
    pred = pred.strip().rstrip(";")
    tail = tail.strip().rstrip(";")
    if not pred:
        raise ValueError("empty QUALIFY predicate")
    head = block[: m.start()].strip()
    star = "* EXCEPT (__qualify)"
    inlined = _inline_qualify_form(head, pred, tail, star=star)
    if inlined:
        return inlined
    inner = f"SELECT *, ({pred}) AS __qualify FROM ({head}) __qualify_base"
    outer = (
        f"SELECT {star} FROM ({inner}) __qualify_filtered WHERE __qualify"
    )
    return outer + (" " + tail if tail else "")


_QUERY_START = re.compile(
    r"^\s*(?:\(\s*)*(?:SELECT|WITH|VALUES|TABLE)\b", re.IGNORECASE
)

#: the DML forms Spark's grammar lets a CTE prologue attach to
#: ("WITH t AS (...) INSERT INTO ..."), written as TWO-token patterns
#: so keyword-named columns (``SELECT update, set FROM t``) cannot
#: false-positive. Statement-head-only verbs (DROP/CREATE/SET/...)
#: need no entry: _QUERY_START already rejects anything not starting
#: SELECT/WITH/VALUES/TABLE, and they cannot follow a CTE.
_WRITE_KW = re.compile(
    r"\b(?:"
    r"INSERT\s+(?:INTO|OVERWRITE)"
    r"|DELETE\s+FROM"
    r"|MERGE\s+INTO"
    r"|UPDATE\s+\S+\s+SET"
    r")\b",
    re.IGNORECASE,
)


def _mask_for_gate(query: str) -> str:
    """Classification-only masking for the read-only gate: blanks the
    bodies of single-quoted literals, DOUBLE-quoted literals (a string
    in default Spark), and backquoted identifiers, honoring backslash
    escapes in all three — ``_mask_string_literals`` only understands
    single quotes, and a stray ``'`` inside a "..."/`...` region would
    derail its state and hide (or invent) keywords. Length need not be
    preserved here; this mask never slices the original."""
    out = []
    i = 0
    closer = None  # the active region's closing char, or None
    while i < len(query):
        c = query[i]
        if closer is not None:
            if c == "\\" and i + 1 < len(query):
                out.append("  ")
                i += 2
                continue
            if c == closer:
                closer = None
                out.append(c)
            else:
                out.append(" ")
        elif c in ("'", '"', "`"):
            closer = c
            out.append(c)
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _has_top_level_write_kw(masked: str) -> bool:
    """True if a CTE-attachable DML form occurs at paren depth 0 of
    the gate-masked statement; the depth-0 restriction keeps subquery-
    internal text from false-positiving."""
    depth = 0
    for m in _WRITE_KW.finditer(masked):
        depth = masked.count("(", 0, m.start()) - masked.count(
            ")", 0, m.start()
        )
        if depth == 0:
            return True
    return False


def is_query_statement(query: str) -> bool:
    """True iff ``query`` is a single read-only query statement —
    SELECT / WITH / VALUES / TABLE (plus the dialect's ASOF/QUALIFY,
    which only occur inside those). DDL/DML (DROP, INSERT OVERWRITE,
    CREATE ... LOCATION) and multi-statement scripts return False.

    Used by the HTTP /sql route: ``spark.sql`` EXECUTES
    DDL/DML eagerly at call time, so the gate must be textual and run
    BEFORE the dialect entry point ever sees the statement. Comments,
    string literals ('/" with escapes), and backquoted identifiers are
    blanked first so keywords inside them can't spoof (or hide from)
    the check."""
    masked = _mask_for_gate(query)
    # blank comments on the masked copy (length need not be preserved
    # here — this scan only classifies, it never slices the original)
    masked = re.sub(r"--[^\n]*", " ", masked)
    masked = re.sub(r"/\*.*?\*/", " ", masked, flags=re.DOTALL)
    # a top-level ';' followed by anything non-blank = a second statement
    head, sep, rest = masked.partition(";")
    if sep and rest.strip():
        return False
    # EXPLAIN is planning-only — admit it exactly when the statement
    # UNDER it would be admitted (the dialect entry additionally
    # re-checks the inner statement before its recursive spark.sql)
    head = re.sub(
        r"^\s*EXPLAIN(?:\s+(?:EXTENDED|CODEGEN|COST|FORMATTED))?\s+",
        " ",
        head,
        count=1,
        flags=re.IGNORECASE,
    )
    # SUMMARIZE <table>: strictly a read (routes to the column
    # profiler) — the narrow regex admits only one bare identifier, so
    # nothing writable can hide behind the keyword
    if _SUMMARIZE_RE.match(head):
        return True
    # PIVOT <table> ON <col> USING ...: a read (routes to
    # groupBy().pivot()); the strict head regex pins the shape and the
    # write-keyword scan below rejects anything writable in USING
    if _PIVOT_HEAD_RE.match(head):
        return not _has_top_level_write_kw(head)
    # UNPIVOT <table> ON ...: same admission rule
    if _UNPIVOT_HEAD_RE.match(head):
        return not _has_top_level_write_kw(head)
    # FROM-first syntax: a leading FROM is a read — the
    # dialect rewrites it to SELECT-first before spark.sql ever runs
    # it — but, like WITH, the tail could still smuggle DML keywords,
    # so the depth-0 write scan below stays in force
    if re.match(r"\s*FROM\b", head, re.IGNORECASE):
        return not _has_top_level_write_kw(head)
    if not _QUERY_START.match(head):
        return False
    # Spark's grammar allows a CTE prologue before DML ("WITH t AS
    # (...) INSERT INTO ..."), so a leading WITH/( does not prove
    # read-only: additionally reject any depth-0 write/DDL keyword
    return not _has_top_level_write_kw(head)


_DISTINCT_ON = re.compile(r"\bSELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)


def _depth_at(masked: str, pos: int) -> int:
    d = 0
    for c in masked[:pos]:
        if c == "(":
            d += 1
        elif c == ")":
            d -= 1
    return d


def _rewrite_distinct_on(query: str) -> str:
    """DuckDB/Postgres ``SELECT DISTINCT ON (keys) cols FROM ...
    ORDER BY ...`` → the ``row_number() OVER (PARTITION BY keys
    ORDER BY <order list>) = 1`` subquery Spark optimizes (the same
    WindowGroupLimit-friendly form the QUALIFY rewrite produces).

    Scope (honest-error boundaries, the nested-QUALIFY precedent):
    the DISTINCT ON must be the TOP-LEVEL select (a nested one raises
    with a workaround) and the statement must carry a top-level ORDER
    BY — DISTINCT ON without one picks an ARBITRARY row per group,
    which is exactly the irreproducibility this engine exists to
    avoid, so it raises. Window order = the full ORDER BY list (a
    leading partition-key entry is constant within its partition —
    harmless); entries referencing select-list aliases are not
    resolvable inside the window and fail Spark analysis loudly.
    The outer ORDER BY / LIMIT are preserved.
    """
    masked = _mask_string_literals(query)
    m = _DISTINCT_ON.search(masked)
    if m is None:
        return query
    if _depth_at(masked, m.start()) != 0:
        # only reachable on DIRECT calls: the dialect entry routes
        # through _rewrite_distinct_on_nested, which rewrites nested
        # blocks innermost-first before this top-level pass runs
        raise NotImplementedError(
            "DISTINCT ON inside a subquery — use sql_ext.sql (the "
            "dialect entry handles nested blocks) or rewrite the "
            "inner block as row_number() OVER (PARTITION BY ...) = 1"
        )
    if _DISTINCT_ON.search(masked, m.end()) is not None:
        raise NotImplementedError(
            "multiple DISTINCT ON blocks in one statement are not "
            "supported yet"
        )
    open_paren = m.end() - 1
    depth, close = 1, None
    for i in range(open_paren + 1, len(masked)):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth == 0:
                close = i
                break
    if close is None:
        raise ValueError("unbalanced parens in DISTINCT ON (...)")
    on_cols = query[open_paren + 1:close].strip()
    from_m = None
    for fm in re.finditer(r"\bFROM\b", masked, re.IGNORECASE):
        if fm.start() > close and _depth_at(masked, fm.start()) == 0:
            from_m = fm
            break
    if from_m is None:
        raise ValueError("DISTINCT ON statement has no top-level FROM")
    select_list = query[close + 1:from_m.start()].strip()
    tail = query[from_m.start():]
    tail_masked = masked[from_m.start():]
    ob = None
    for om in re.finditer(r"\bORDER\s+BY\b", tail_masked, re.IGNORECASE):
        if _depth_at(tail_masked, om.start()) == 0:
            ob = om
    if ob is None:
        raise ValueError(
            "DISTINCT ON requires a top-level ORDER BY — without one "
            "the kept row per group is arbitrary (not reproducible "
            "across runs or engines)"
        )
    body = tail[:ob.start()].rstrip()
    order_tail = tail[ob.end():]  # '<order list> [LIMIT ...]'
    lim = None
    for lm in re.finditer(r"\bLIMIT\b", _mask_string_literals(order_tail),
                          re.IGNORECASE):
        if _depth_at(_mask_string_literals(order_tail), lm.start()) == 0:
            lim = lm
            break
    order_list = (order_tail if lim is None else order_tail[:lim.start()]).strip()
    limit_clause = "" if lim is None else " " + order_tail[lim.start():].strip()
    # the * EXCEPT shell strips the helper rn so a bare `SELECT
    # DISTINCT ON (k) *` stays clean (WHERE sees __don_rn pre-projection)
    return (
        f"SELECT {select_list} FROM ("
        f"SELECT * EXCEPT (__don_rn) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {on_cols} "
        f"ORDER BY {order_list}) AS __don_rn {body}"
        f") __don0 WHERE __don_rn = 1"
        f") __don ORDER BY {order_list}{limit_clause}"
    )


def _rewrite_distinct_on_nested(query: str) -> str:
    """Nested DISTINCT ON support: each parenthesized subquery containing a ``SELECT DISTINCT ON`` —
    derived table, CTE body, IN/EXISTS body, scalar subquery — is
    located DEEPEST-FIRST with the same block finder the nested
    QUALIFY extraction uses, and its text is rewritten IN PLACE by
    ``_rewrite_distinct_on`` (scoped to the block, where its
    "top-level" contract means block depth 0). Unlike QUALIFY — whose
    rewrite needs runtime planning (two-form retry), forcing the view
    extraction + correlation guards — the DISTINCT ON rewrite is
    purely textual, so in-place splicing preserves every name scope
    for free: CTE references and correlated outer columns resolve in
    their original position when the FULL statement is planned, with
    no catalog-shadowing hazard (the failure mode that makes the
    QUALIFY path need its view machinery). A correlated block whose
    outer reference lands somewhere Spark's subquery planner rejects
    fails loudly at analysis, never silently.

    Contract per block, unchanged from the top-level form: the block
    must carry its OWN ORDER BY (DuckDB's DISTINCT ON without one
    keeps an arbitrary row — the irreproducibility this engine
    refuses), and a block containing MULTIPLE depth-0 DISTINCT ON
    selects (a UNION of two inside one derived table — ambiguous
    which ORDER BY governs which) keeps the honest raise."""
    while True:
        masked = _mask_string_literals(query)
        span = _find_deepest_nested_qualify(masked, kw_re=_DISTINCT_ON)
        if span is None:
            # every remaining occurrence (if any) is at depth 0
            return _rewrite_distinct_on(query)
        open_idx, close_idx = span
        block = query[open_idx + 1 : close_idx]
        if not _QUERY_START.match(block):
            raise ValueError(
                "DISTINCT ON inside a non-query parenthesis — the "
                f"enclosing block {block[:80]!r}... does not start a "
                "SELECT/WITH subquery"
            )
        query = (
            query[: open_idx + 1]
            + _rewrite_distinct_on(block)
            + query[close_idx:]
        )


_EXCLUDE_PAREN = re.compile(r"(\*\s*)EXCLUDE(\s*\()", re.IGNORECASE)
_EXCLUDE_BARE = re.compile(
    r"(\*\s*)EXCLUDE\s+([A-Za-z_][A-Za-z0-9_]*)", re.IGNORECASE
)


def _rewrite_exclude(query: str) -> str:
    """DuckDB's ``SELECT * EXCLUDE (a, b)`` / ``* EXCLUDE a`` → Spark's
    native ``* EXCEPT (a, b)``. Purely textual (keyword spelling, same
    semantics both engines); literal-masked so 'EXCLUDE' inside a
    string never matches; the bare single-column form gains the parens
    Spark requires. ``alias.* EXCLUDE (...)`` works too — the ``*`` the
    regex anchors on is the one EXCLUDE follows."""
    masked = _mask_string_literals(query)
    spans: list[tuple[int, int, str]] = []
    for m in _EXCLUDE_PAREN.finditer(masked):
        spans.append((m.start(), m.end(), m.group(1) + "EXCEPT" + m.group(2)))
    for m in _EXCLUDE_BARE.finditer(masked):
        spans.append(
            (m.start(), m.end(), m.group(1) + "EXCEPT (" + m.group(2) + ")")
        )
    if not spans:
        return query
    out, last = [], 0
    for s, e, rep in sorted(spans):
        out.append(query[last:s])
        out.append(rep)
        last = e
    out.append(query[last:])
    return "".join(out)


_COLUMNS_KW = re.compile(r"\bCOLUMNS\s*\(", re.IGNORECASE)

_CLAUSE_END_RE = re.compile(
    r"\b(?:WHERE|GROUP|ORDER|HAVING|LIMIT|QUALIFY|WINDOW|UNION|"
    r"INTERSECT|EXCEPT)\b",
    re.IGNORECASE,
)
_JOIN_CONNECT_RE = re.compile(
    r"\s*(?:(?:INNER|CROSS|(?:LEFT|RIGHT|FULL)(?:\s+OUTER)?)\s+)?JOIN\b",
    re.IGNORECASE,
)
_JOIN_SCAN_RE = re.compile(
    r",|\b(?:INNER|CROSS|LEFT|RIGHT|FULL|NATURAL|SEMI|ANTI|ASOF|JOIN)\b",
    re.IGNORECASE,
)
_FROM_KEYWORDS = frozenset(
    {"JOIN", "ON", "USING", "INNER", "LEFT", "RIGHT", "FULL", "OUTER",
     "CROSS", "NATURAL", "SEMI", "ANTI", "ASOF", "LATERAL"}
)


def _from_table_list(masked: str, start: int) -> list[str]:
    """Table/view names, in FROM order, of the depth-0 FROM list
    beginning at ``start`` in ``masked`` (string literals already
    masked). Supported shapes: a comma list and ``[INNER|LEFT|RIGHT|
    FULL [OUTER]|CROSS] JOIN … ON …`` chains. Raises (honest scope
    boundaries, see ``_rewrite_columns``) on derived tables, USING
    joins, and NATURAL/SEMI/ANTI/ASOF joins."""
    end = len(masked)
    for m in _CLAUSE_END_RE.finditer(masked, start):
        if _depth_at(masked, m.start()) == 0:
            end = m.start()
            break
    clause = masked[start:end].rstrip().rstrip(";")
    tables: list[str] = []

    def take_table(pos: int) -> int:
        if re.match(r"\s*\(", clause[pos:]):
            raise ValueError(
                "COLUMNS(...) cannot bind through a derived table/"
                "subquery in FROM — no resolvable column list at "
                "rewrite time"
            )
        m = re.match(r"\s*([A-Za-z_][\w.]*)", clause[pos:])
        if m is None:
            raise ValueError(
                "cannot parse the FROM clause for COLUMNS(...) at "
                f"{clause[pos:pos + 40]!r}"
            )
        if m.group(1).upper() in _FROM_KEYWORDS:
            raise ValueError(
                f"COLUMNS(...) cannot bind through {m.group(1)!r} in "
                "FROM (supported: a comma list and [INNER|LEFT|RIGHT|"
                "FULL [OUTER]|CROSS] JOIN ... ON)"
            )
        tables.append(m.group(1))
        pos += m.end()
        am = re.match(r"\s+(?:AS\s+)?([A-Za-z_]\w*)", clause[pos:],
                      re.IGNORECASE)
        if am and am.group(1).upper() not in _FROM_KEYWORDS:
            pos += am.end()
        return pos

    pos = take_table(0)
    while pos < len(clause) and clause[pos:].strip():
        cm = re.match(r"\s*,", clause[pos:])
        if cm:
            pos = take_table(pos + cm.end())
            continue
        jm = _JOIN_CONNECT_RE.match(clause, pos)
        if jm:
            pos = take_table(jm.end())
            if re.match(r"\s*USING\b", clause[pos:], re.IGNORECASE):
                raise ValueError(
                    "COLUMNS(...) over a USING join is not supported "
                    "(USING folds the join columns out of the "
                    "expansion set) — spell the ON form"
                )
            om = re.match(r"\s*ON\b", clause[pos:], re.IGNORECASE)
            if om:
                pos += om.end()
                nxt = len(clause)
                for m2 in _JOIN_SCAN_RE.finditer(clause, pos):
                    if _depth_at(clause, m2.start()) == 0:
                        nxt = m2.start()
                        break
                pos = nxt
            continue
        raise ValueError(
            "COLUMNS(...) cannot bind through "
            f"{clause[pos:pos + 30].strip()!r} in FROM (supported: a "
            "comma list and [INNER|LEFT|RIGHT|FULL [OUTER]|CROSS] "
            "JOIN ... ON; NATURAL/SEMI/ANTI/ASOF/USING joins and "
            "derived tables raise)"
        )
    return tables


def _rewrite_columns(spark: SparkSession, query: str) -> str:
    """DuckDB's ``COLUMNS('regex')`` / ``COLUMNS(*)`` star variant
    expand each select item containing a COLUMNS call
    into one copy PER MATCHING COLUMN of the FROM table, with the
    surrounding expression applied to each — ``SUM(COLUMNS('^l_'))``
    becomes ``SUM(l_a) AS l_a, SUM(l_b) AS l_b, …``. Semantics pinned
    against DuckDB's native behavior: the pattern is a SEARCH (not a
    fullmatch) over column names, expansion follows table column
    order, and every output keeps the BARE source column name no
    matter how the expression wraps it (verified: DuckDB names
    ``round(sum(COLUMNS(...)))`` outputs just the column).

    FROM binding: a depth-0
    FROM list of plain tables/views — comma joins and
    ``[INNER|LEFT|RIGHT|FULL [OUTER]|CROSS] JOIN … ON`` chains —
    expands over the CONCATENATED column lists in FROM order, which
    is DuckDB's own join-expansion order (pinned: ``customer c,
    nation n`` expands c's matches before n's). A pattern matching
    the same column name in two FROM tables raises (the bare-name
    projection would be ambiguous — DuckDB qualifies such output
    names, we stay honest instead).

    Scope (honest-raise boundaries): derived tables/subqueries in
    FROM (no resolvable column list at rewrite time), ``USING``
    joins (USING folds the join columns out of the expansion set —
    spell the ON form), NATURAL/SEMI/ANTI/ASOF joins (folded or
    one-sided column sets), one COLUMNS call per select item, no
    trailing alias on an expanded item (the expansion names each
    copy after its column). Resolution uses ``spark.table`` at
    rewrite time — same requirement the ASOF rewrite already makes."""
    masked = _mask_string_literals(query)
    if not _COLUMNS_KW.search(masked):
        return query
    sel = re.match(r"\s*SELECT\s+", masked, re.IGNORECASE)
    if sel is None:
        raise ValueError("COLUMNS(...) outside a SELECT statement")
    from_m = None
    for fm in re.finditer(r"\bFROM\b", masked, re.IGNORECASE):
        if _depth_at(masked, fm.start()) == 0:
            from_m = fm
            break
    if from_m is None:
        raise ValueError("COLUMNS(...) needs a FROM clause to bind to")
    tables = _from_table_list(masked, from_m.end())
    # concatenated in FROM order = DuckDB's join expansion order; a
    # name repeated ACROSS tables only raises if a pattern matches it
    # (checked per expansion below)
    table_cols: list[str] = [
        c for t in tables for c in spark.table(t).columns
    ]

    list_text = query[sel.end(): from_m.start()]
    list_masked = masked[sel.end(): from_m.start()]
    out_items: list[str] = []
    for im, item in zip(
        _split_top_level_commas(list_masked, list_masked),
        _split_top_level_commas(list_masked, list_text),
    ):
        cm = _COLUMNS_KW.search(im)
        if cm is None:
            out_items.append(item.strip())
            continue
        if _COLUMNS_KW.search(im, cm.end()):
            raise ValueError(
                "multiple COLUMNS(...) calls in one select item are "
                "not supported"
            )
        open_idx = cm.end() - 1
        depth, close = 0, None
        for i in range(open_idx, len(im)):
            if im[i] == "(":
                depth += 1
            elif im[i] == ")":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        if close is None:
            raise ValueError("unbalanced parens in COLUMNS(...)")
        arg = item[open_idx + 1: close].strip()
        if arg == "*":
            matched = list(table_cols)
        else:
            pm = re.fullmatch(r"'([^']*)'", arg)
            if pm is None:
                raise ValueError(
                    f"unsupported COLUMNS argument {arg!r} — use "
                    "COLUMNS(*) or COLUMNS('regex')"
                )
            pat = re.compile(pm.group(1))
            matched = [c for c in table_cols if pat.search(c)]
        if len(matched) != len(set(matched)):
            dups = sorted({c for c in matched if matched.count(c) > 1})
            raise ValueError(
                f"COLUMNS({arg}) matches column(s) {dups} in more than "
                "one FROM table — the bare-name expansion would be "
                "ambiguous; narrow the pattern"
            )
        if not matched:
            raise ValueError(
                f"COLUMNS({arg}) matches no column of {tables!r}"
            )
        tail = im[close + 1:]
        if re.search(r"\bAS\s+\w+\s*$", tail, re.IGNORECASE):
            raise ValueError(
                "an alias on a COLUMNS(...) item is not supported — "
                "each expansion is named after its column"
            )
        for c in matched:
            out_items.append(
                (item[:cm.start()] + c + item[close + 1:]).strip()
                + f" AS {c}"
            )
    return (
        query[: sel.end()]
        + ", ".join(out_items)
        + " "
        + query[from_m.start():]
    )


_REPLACE_KW = re.compile(r"(\*\s*)REPLACE\s*\(", re.IGNORECASE)
_AS_KW = re.compile(r"\bAS\b", re.IGNORECASE)


def _split_top_level_commas(masked: str, text: str) -> list[str]:
    """Split ``text`` on commas at paren depth 0 of ``masked`` (its
    literal-masked twin, same length)."""
    parts, depth, last = [], 0, 0
    for i, c in enumerate(masked):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(text[last:i])
            last = i + 1
    parts.append(text[last:])
    return parts


def _rewrite_star_replace(query: str) -> str:
    """DuckDB's ``SELECT * REPLACE (expr AS col, ...)`` → Spark's
    ``* EXCEPT (col, ...), expr AS col, ...`` (Spark has
    EXCEPT but no REPLACE). Purely textual and literal-masked; the
    ``alias.* REPLACE (...)`` form works (the ``*`` the regex anchors
    on is the one REPLACE follows), and the bare function call
    ``replace(x, y, z)`` never matches (no preceding ``*``). Each item
    must carry a top-level ``AS <name>`` — the replaced column's name
    is syntactically required in DuckDB too — located as the LAST
    depth-0 AS so casts inside the expression (``CAST(x AS INT) AS
    x``) split correctly. Replaced columns MOVE to the select list's
    tail in the rewrite; engine-side column ORDER is not part of the
    oracle contract (the differential harness sorts columns by name),
    and callers needing the original order project explicitly.
    Composing REPLACE with EXCLUDE/EXCEPT on the same star is not
    supported (the regex requires REPLACE adjacent to its star) —
    Spark then fails the leftover REPLACE loudly at parse."""
    while True:
        masked = _mask_string_literals(query)
        m = None
        for cand in _REPLACE_KW.finditer(masked):
            # a star MODIFIER's * follows SELECT / ',' / '(' / '.'
            # (alias.*); a * preceded by an identifier, literal, or ')'
            # is MULTIPLICATION and 'replace(' is the plain function —
            # pass through ('amount * replace(s, a, b)'
            # must not trip the rewrite)
            j = cand.start() - 1
            while j >= 0 and masked[j].isspace():
                j -= 1
            before = masked[: j + 1].rstrip()
            if (
                j < 0
                or masked[j] in ",(."
                or re.search(r"(?i)\b(SELECT|DISTINCT|ALL)$", before)
                or re.search(r"(?i)\bDISTINCT\s+ON\s*\([^()]*\)$", before)
            ):
                m = cand
                break
        if m is None:
            return query
        open_idx = m.end() - 1
        depth, close = 0, None
        for i in range(open_idx, len(masked)):
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        if close is None:
            raise ValueError("unbalanced parens in * REPLACE (...)")
        inner = query[open_idx + 1 : close]
        inner_masked = masked[open_idx + 1 : close]
        names, exprs = [], []
        for item_masked, item in zip(
            _split_top_level_commas(inner_masked, inner_masked),
            _split_top_level_commas(inner_masked, inner),
        ):
            as_pos = None
            for am in _AS_KW.finditer(item_masked):
                if _depth_at(item_masked, am.start()) == 0:
                    as_pos = am
            if as_pos is None:
                raise ValueError(
                    f"* REPLACE item {item.strip()!r} has no AS <name> "
                    "— DuckDB requires one and the rewrite needs it to "
                    "know which column to except"
                )
            name = item[as_pos.end():].strip()
            if not re.fullmatch(r"[A-Za-z_]\w*|`[^`]+`", name):
                raise ValueError(
                    f"* REPLACE alias {name!r} is not a plain column name"
                )
            names.append(name)
            exprs.append(item.strip())
        star = m.group(1)
        query = (
            query[: m.start()]
            + f"{star}EXCEPT ({', '.join(names)}), {', '.join(exprs)}"
            + query[close + 1 :]
        )


_SUMMARIZE_RE = re.compile(
    r"^\s*SUMMARIZE\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE
)


def _maybe_summarize(spark: SparkSession, query: str):
    """DuckDB's ``SUMMARIZE <table>`` verb: routed to the
    engine's one-pass column profiler (operators/profile.py
    profile_columns — count / nulls / distinct / numeric min-max per
    column, ONE aggregate job over the table, with the q25/q50/q75
    approx-percentile trio in the same pass, closing DuckDB's
    SUMMARIZE column set). The output schema remains this
    engine's profile row ordering, and the quartile VALUES are this
    engine's sketch (DuckDB's SUMMARIZE quotes its own) — the verb is
    paste-compatibility sugar, documented as such. Returns None when
    the statement is not a SUMMARIZE."""
    # strip comments exactly like the read-only gate does — the gate
    # admits "SUMMARIZE t -- note" as a read, so the executor must
    # recognize the same spelling
    head = _mask_string_literals(query)
    head = re.sub(r"--[^\n]*", " ", head)
    head = re.sub(r"/\*.*?\*/", " ", head, flags=re.DOTALL)
    m = _SUMMARIZE_RE.match(head)
    if m is None:
        return None
    from .operators.profile import profile_columns

    t = spark.table(m.group(1))
    return profile_columns(t, t.columns, percentiles=True)


def _blank_comments_preserving(masked: str) -> str:
    """Blank -- and /* */ comments with SPACES of the same length, so
    positions found on the result still index into the original
    statement (the PIVOT/UNPIVOT rewrites slice the original at
    masked-copy offsets — a shrinking substitution would misalign
    them)."""
    masked = re.sub(
        r"--[^\n]*", lambda mm: " " * len(mm.group(0)), masked
    )
    return re.sub(
        r"/\*.*?\*/", lambda mm: " " * len(mm.group(0)), masked,
        flags=re.DOTALL,
    )


_PIVOT_HEAD_RE = re.compile(
    r"^\s*PIVOT\s+([A-Za-z_][\w.]*)\s+ON\s+", re.IGNORECASE
)
_PIVOT_ON_ITEM_RE = re.compile(
    r"([A-Za-z_]\w*)\s*(?:IN\s*\((.*)\))?",
    re.IGNORECASE | re.DOTALL,
)
_GROUP_BY_RE = re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE)


def _parse_pivot_literal(s: str):
    """One ``PIVOT ... IN (...)`` item as a Python value for
    ``DataFrame.pivot``'s values list: single-quoted string ('' is the
    escaped quote), integer, decimal, or TRUE/FALSE. Anything else —
    expressions, subqueries, bare identifiers — raises: the IN list
    exists to PIN values without running anything."""
    if re.fullmatch(r"'(?:[^']|'')*'", s):
        return s[1:-1].replace("''", "'")
    if re.fullmatch(r"-?\d+", s):
        return int(s)
    if re.fullmatch(r"-?\d+\.\d+", s):
        return float(s)
    if s.lower() == "true":
        return True
    if s.lower() == "false":
        return False
    raise ValueError(
        f"PIVOT IN item {s!r} is not a literal (string/number/boolean)"
    )
#: Spark's own spark.sql.pivotMaxValues default — the cardinality past
#: which a pivot is a data-modeling error, not a reshape
_PIVOT_MAX_VALUES = 10_000


def _maybe_pivot(spark: SparkSession, query: str):
    """DuckDB's ``PIVOT`` statement: ``PIVOT <table> ON
    <col> USING <agg> [AS <name>][, ...] [GROUP BY <cols>]`` routed to
    ``df.groupBy(...).pivot(col, values).agg(...)``. Semantics pinned
    against DuckDB native behavior (verified on duckdb in this repo's
    test suite):

    - pivot values = the column's distinct NON-NULL values, sorted
      ascending (rows with a NULL pivot value drop out — Spark's
      explicit-values pivot does the same);
    - no GROUP BY → implicit grouping by every table column that is
      neither the pivot column nor referenced in a USING expression
      (DuckDB's rule);
    - output columns are named ``<value>`` for a single unaliased
      aggregate and ``<value>_<alias>`` when aliased or when several
      aggregates are given (several UNALIASED aggregates raise — the
      engines disagree on fallback names, so the rewrite demands the
      spelling they agree on).

    Values resolve at rewrite time (one distinct scan of the pivot
    column — dimension-sized by the nature of a pivot; > 10k distinct
    values raises like Spark's own ``spark.sql.pivotMaxValues``) —
    OR an explicit ``ON <col> IN (v1, v2, ...)``
    list (DuckDB's own spelling) pins the values with NO scan: output
    columns follow the list's order, rows with other values drop
    (both engines agree), and EXPLAIN PIVOT becomes genuinely
    plan-only. IN items must be literals (strings/numbers/booleans).

    Multi-column ``ON c1[, c2 ...]``: DuckDB
    pivots on the CROSS PRODUCT of the columns' value sets, columns
    named ``<v1>_<v2>[_<alias>]`` in per-column (sorted / IN) order —
    implemented by pivoting a NULL-propagating combo column whose
    per-column values map through typed CASE chains (no raw casts, so
    literal spelling can't drift); per-column IN lists compose.
    Expression ON and derived-table PIVOT raise honestly. Returns
    None when the statement is not a PIVOT."""
    head = _blank_comments_preserving(_mask_string_literals(query))
    if not re.match(r"\s*PIVOT\b", head, re.IGNORECASE):
        return None
    m = _PIVOT_HEAD_RE.match(head)
    if m is None:
        raise ValueError(
            "unsupported PIVOT spelling — the rewrite handles "
            "PIVOT <table> ON <column>[ IN (...)][, <column> ...] "
            "USING <agg> [AS <name>][, ...] [GROUP BY <cols>] (plain "
            "ON columns; derived tables and expression ON raise)"
        )
    table_name = m.group(1)
    # the ON segment runs to the first depth-0 USING (multi-column ON —
    # DuckDB pivots on the CROSS PRODUCT of the
    # columns' value sets, naming columns <v1>_<v2>[_<alias>])
    us = None
    for um in re.finditer(r"\bUSING\b", head, re.IGNORECASE):
        if um.start() >= m.end() and _depth_at(head, um.start()) == 0:
            us = um
            break
    if us is None:
        raise ValueError("PIVOT needs a USING <agg> clause")
    on_masked_seg = head[m.end():us.start()]
    on_orig_seg = query[m.end():us.start()]
    on_specs: list[tuple[str, list | None]] = []
    for im, item in zip(
        _split_top_level_commas(on_masked_seg, on_masked_seg),
        _split_top_level_commas(on_masked_seg, on_orig_seg),
    ):
        lead = len(im) - len(im.lstrip())
        im_s = im.strip()
        item_aligned = item[lead: lead + len(im_s)]
        mm = _PIVOT_ON_ITEM_RE.fullmatch(im_s)
        if mm is None:
            raise ValueError(
                f"PIVOT ON item {item.strip()!r} must be a plain "
                "column, optionally with IN (literal, ...)"
            )
        vals = None
        if mm.group(2) is not None:
            inner_masked = mm.group(2)
            inner_orig = item_aligned[mm.start(2): mm.end(2)]
            if not inner_masked.strip():
                raise ValueError("PIVOT IN (...) list must be non-empty")
            vals = [
                _parse_pivot_literal(x.strip())
                for x in _split_top_level_commas(inner_masked, inner_orig)
            ]
        on_specs.append((mm.group(1), vals))
    if not on_specs:
        raise ValueError("PIVOT ON list is empty")
    # strip trailing whitespace/';' by MASKED length so the original
    # slice stays aligned (the original may end in a blanked comment)
    tail = head[us.end():]
    cut = len(tail.rstrip())
    if cut and tail[cut - 1] == ";":
        cut = len(tail[: cut - 1].rstrip())
    rest_masked = tail[:cut]
    rest_orig = query[us.end():][:cut]
    gb = None
    for gm in _GROUP_BY_RE.finditer(rest_masked):
        if _depth_at(rest_masked, gm.start()) == 0:
            gb = gm
            break
    if gb is not None:
        using_masked = rest_masked[: gb.start()]
        using_orig = rest_orig[: gb.start()]
        group_text = rest_masked[gb.end():]
        group_cols = [g.strip() for g in group_text.split(",")]
        bad = [g for g in group_cols if not re.fullmatch(r"[A-Za-z_]\w*", g)]
        if bad:
            raise ValueError(
                f"PIVOT GROUP BY items must be plain columns, got {bad!r}"
            )
    else:
        using_masked = rest_masked
        using_orig = rest_orig
        group_cols = None

    aggs: list[tuple[str, str | None]] = []
    aggs_masked: list[str] = []
    for im, item in zip(
        _split_top_level_commas(using_masked, using_masked),
        _split_top_level_commas(using_masked, using_orig),
    ):
        as_m = None
        for am in _AS_KW.finditer(im):
            if _depth_at(im, am.start()) == 0:
                as_m = am  # keep the LAST depth-0 AS
        if as_m is not None:
            alias = item[as_m.end():].strip()
            if not re.fullmatch(r"[A-Za-z_]\w*", alias):
                raise ValueError(
                    f"PIVOT aggregate alias {alias!r} is not a plain name"
                )
            aggs.append((item[: as_m.start()].strip(), alias))
            aggs_masked.append(im[: as_m.start()])
        else:
            aggs.append((item.strip(), None))
            aggs_masked.append(im)
    if len(aggs) > 1 and any(a is None for _, a in aggs):
        # covers every ON form, incl. multi-column ON where the
        # display-name rule would otherwise interpolate None into the
        # per-combo column name (pinned by
        # test_pivot_multi_on_unaliased_multi_agg_raises)
        raise ValueError(
            "several PIVOT aggregates need an AS <name> each (Spark "
            "and DuckDB disagree on unaliased fallback names)"
        )

    from pyspark.sql import functions as F

    t = spark.table(table_name)
    vname = lambda v: (  # noqa: E731 — DuckDB's value spelling
        str(v).lower() if isinstance(v, bool) else str(v)
    )
    per_col_values: list[list] = []
    for col, vals in on_specs:
        if col not in t.columns:
            raise ValueError(
                f"PIVOT column {col!r} not in {table_name!r}"
            )
        if vals is not None:
            per_col_values.append(vals)  # pinned: no scan, order kept
            continue
        vrows = (
            t.select(col).filter(F.col(col).isNotNull())
            .distinct().limit(_PIVOT_MAX_VALUES + 1).collect()
        )
        if len(vrows) > _PIVOT_MAX_VALUES:
            raise ValueError(
                f"PIVOT ON {col!r} exceeds {_PIVOT_MAX_VALUES} "
                "distinct values — that is a join key, not a pivot axis"
            )
        per_col_values.append(sorted(r[0] for r in vrows))

    if len(on_specs) == 1:
        # single-column ON: pivot directly on the column (typed value
        # matching)
        pivot_col = on_specs[0][0]
        values = per_col_values[0]
        src = t
    else:
        # multi-column ON (DuckDB parity): pivot on a combo
        # column — each ON column maps its LISTED values to a
        # LENGTH-PREFIXED encoding of their DuckDB name spelling via
        # a typed CASE chain (never a raw cast, so literal spelling
        # can't drift), joined by NULL-PROPAGATING concat: a row with
        # any unlisted/NULL ON value gets a NULL combo and drops,
        # exactly DuckDB. The cell IDENTITY is the encoded tuple —
        # the length prefix makes it collision-free even when values
        # contain '_' ('a'+'b_c' vs 'a_b'+'c' must
        # stay SEPARATE cells; their display names collide and are
        # deduplicated with _1/_2 suffixes, exactly DuckDB). The
        # values list is the columns' CROSS PRODUCT in per-column
        # order (sorted discovery / IN order), matching DuckDB's
        # column order; display names are renamed in positionally at
        # the end.
        import itertools

        for (col, _), vals in zip(on_specs, per_col_values):
            if not vals:
                raise ValueError(
                    f"PIVOT ON column {col!r} has no non-NULL values "
                    "— nothing to pivot on; pin an IN (...) list or "
                    "drop the column from ON"
                )

        def _enc(v) -> str:
            n = vname(v)
            return f"{len(n)}:{n}"

        mapped = []
        for (col, _), vals in zip(on_specs, per_col_values):
            c = F.when(
                F.col(col) == F.lit(vals[0]), F.lit(_enc(vals[0]))
            )
            for v in vals[1:]:
                c = c.when(F.col(col) == F.lit(v), F.lit(_enc(v)))
            mapped.append(c)
        combo = mapped[0]
        for mc in mapped[1:]:
            combo = F.concat(combo, F.lit("|"), mc)
        pivot_col = "_pvt_combo"
        combos = list(itertools.product(*per_col_values))
        values = ["|".join(_enc(v) for v in vs) for vs in combos]
        display = ["_".join(vname(v) for v in vs) for vs in combos]
        src = t.withColumn(pivot_col, combo)

    if group_cols is None:
        # DuckDB's implicit rule: group by every column not otherwise
        # referenced in the PIVOT statement
        used = {col for col, _ in on_specs} | {pivot_col}
        # scan the MASKED expr text: a column name inside a string
        # literal is not a reference (DuckDB keeps
        # grouping by a column that only a literal mentions)
        for expr_masked in aggs_masked:
            for c in t.columns:
                if re.search(rf"\b{re.escape(c)}\b", expr_masked):
                    used.add(c)
        group_cols = [c for c in t.columns if c not in used]
    if not group_cols:
        raise ValueError(
            "PIVOT has no grouping columns left — every column is "
            "either the pivot axis or referenced in USING"
        )

    agg_exprs = [
        F.expr(e).alias(a) if a is not None else F.expr(e)
        for e, a in aggs
    ]
    out = src.groupBy(*group_cols).pivot(pivot_col, values).agg(*agg_exprs)
    if len(on_specs) > 1:
        # multi-ON: Spark named the columns by the ENCODED combo —
        # rename positionally to the DuckDB display names. Column
        # order out of pivot is group cols, then per value
        # (values-major) one column per aggregate.
        raw: list[str] = []
        for disp in display:
            if len(aggs) == 1 and aggs[0][1] is None:
                raw.append(disp)
            elif len(aggs) == 1:
                raw.append(f"{disp}_{aggs[0][1]}")
            else:
                raw.extend(f"{disp}_{a}" for _, a in aggs)
        # DuckDB deduplicates colliding final names with _1, _2, ...
        # in order of appearance — mirror it
        seen: dict[str, int] = {}
        names: list[str] = []
        for nm in raw:
            if nm in seen:
                seen[nm] += 1
                names.append(f"{nm}_{seen[nm]}")
            else:
                seen[nm] = 0
                names.append(nm)
        assert len(out.columns) == len(group_cols) + len(names)
        return out.toDF(*group_cols, *names)
    if len(aggs) == 1 and aggs[0][1] is not None:
        # Spark names single-aggregate pivot columns by value alone,
        # even when aliased; DuckDB appends _<alias>. Rename
        # POSITIONALLY: withColumnRenamed would
        # no-op on boolean values (Spark names 'true', str(True) is
        # 'True') and would also rename a group column that string-
        # collides with a pivot value. Column order out of pivot is
        # group cols then one column per value, so toDF is exact.
        alias = aggs[0][1]
        assert len(out.columns) == len(group_cols) + len(values)
        out = out.toDF(
            *group_cols, *[f"{vname(v)}_{alias}" for v in values]
        )
    return out


_UNPIVOT_HEAD_RE = re.compile(
    r"^\s*UNPIVOT\s+([A-Za-z_][\w.]*)\s+ON\s+", re.IGNORECASE
)
_UNPIVOT_INTO_RE = re.compile(
    r"\bINTO\s+NAME\s+([A-Za-z_]\w*)\s+VALUE\s+([A-Za-z_]\w*)\s*$",
    re.IGNORECASE,
)


def _maybe_unpivot(spark: SparkSession, query: str):
    """DuckDB's ``UNPIVOT`` statement (the PIVOT verb's
    inverse): ``UNPIVOT <table> ON <col>[, ...] [INTO NAME <n> VALUE
    <v>]`` routed to ``DataFrame.unpivot`` — id columns are every
    table column NOT listed in ON (DuckDB's rule, table order kept),
    default output names ``name``/``value`` (DuckDB's defaults), and
    rows whose unpivoted value is NULL are DROPPED (DuckDB semantics;
    Spark's unpivot keeps them, so the rewrite filters). ON items may
    be plain columns or ``COLUMNS('regex')`` (expanded against the
    table like the SELECT-side rewrite). Returns None when the
    statement is not an UNPIVOT."""
    head = _blank_comments_preserving(_mask_string_literals(query))
    if not re.match(r"\s*UNPIVOT\b", head, re.IGNORECASE):
        return None
    m = _UNPIVOT_HEAD_RE.match(head)
    if m is None:
        raise ValueError(
            "unsupported UNPIVOT spelling — the rewrite handles "
            "UNPIVOT <table> ON <col>[, ...] [INTO NAME <n> VALUE <v>] "
            "(derived tables raise)"
        )
    table_name = m.group(1)
    tail = head[m.end():]
    cut = len(tail.rstrip())
    if cut and tail[cut - 1] == ";":
        cut = len(tail[: cut - 1].rstrip())
    rest_masked = tail[:cut]
    rest_orig = query[m.end():][:cut]
    into = _UNPIVOT_INTO_RE.search(rest_masked)
    if into is not None:
        name_col, value_col = into.group(1), into.group(2)
        on_masked = rest_masked[: into.start()]
        on_orig = rest_orig[: into.start()]
    else:
        name_col, value_col = "name", "value"
        on_masked, on_orig = rest_masked, rest_orig

    from pyspark.sql import functions as F

    t = spark.table(table_name)
    on_cols: list[str] = []
    for im, item in zip(
        _split_top_level_commas(on_masked, on_masked),
        _split_top_level_commas(on_masked, on_orig),
    ):
        item = item.strip()
        cm = _COLUMNS_KW.match(im.strip())
        if cm is not None:
            arg = item[item.index("(") + 1 : item.rindex(")")].strip()
            if arg == "*":
                on_cols.extend(t.columns)
                continue
            pm = re.fullmatch(r"'([^']*)'", arg)
            if pm is None:
                raise ValueError(
                    f"unsupported COLUMNS argument {arg!r} in UNPIVOT ON"
                )
            pat = re.compile(pm.group(1))
            matched = [c for c in t.columns if pat.search(c)]
            if not matched:
                raise ValueError(
                    f"UNPIVOT ON COLUMNS({arg}) matches no column of "
                    f"{table_name!r}"
                )
            on_cols.extend(matched)
        elif re.fullmatch(r"[A-Za-z_]\w*", item):
            if item not in t.columns:
                raise ValueError(
                    f"UNPIVOT ON column {item!r} not in {table_name!r}"
                )
            on_cols.append(item)
        else:
            raise ValueError(
                f"UNPIVOT ON item {item!r} must be a plain column or "
                "COLUMNS('regex')"
            )
    if not on_cols:
        raise ValueError("UNPIVOT ON list is empty")
    ids = [c for c in t.columns if c not in set(on_cols)]
    out = t.unpivot(ids, on_cols, name_col, value_col)
    # DuckDB drops NULL unpivoted values; Spark keeps them
    return out.filter(F.col(value_col).isNotNull())


_FROM_FIRST_RE = re.compile(r"\s*FROM\b", re.IGNORECASE)
_SELECT_KW_RE = re.compile(r"\bSELECT\b", re.IGNORECASE)
_FF_CLAUSE_RE = re.compile(
    r"\b(?:WHERE|GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT"
    r"|UNION|INTERSECT|EXCEPT)\b",
    re.IGNORECASE,
)


def _rewrite_from_first(query: str) -> str:
    """DuckDB's FROM-first syntax: a statement may LEAD with
    its FROM clause — ``FROM t``, ``FROM t WHERE ...``, and
    ``FROM t [JOIN ...] SELECT cols WHERE ... ORDER BY ...`` are all
    admitted, with DuckDB's exact semantics (a missing SELECT clause
    means ``SELECT *``; when present, the select list sits between the
    FROM clause and the remaining clauses in their usual order).

    Pure textual reorder on a comment/string-masked copy (depth-0
    keyword scan, original never sliced at masked-only offsets):

    - no depth-0 SELECT -> splice ``SELECT * `` before the FROM
      keyword (every following clause is already in standard order);
    - otherwise ``FROM <f> SELECT <list> <rest>`` ->
      ``SELECT <list> FROM <f> <rest>``, where ``<rest>`` starts at
      the first depth-0 clause keyword after the select list.

    Scope: the statement HEAD only — FROM-first inside subqueries or
    set-operation branches (``... UNION ALL FROM b``) is not
    rewritten (spell those SELECT-first); a WITH prologue is likewise
    out of scope. Statements not starting with FROM pass through
    untouched.
    """
    masked = _blank_comments_preserving(_mask_string_literals(query))
    m = _FROM_FIRST_RE.match(masked)
    if m is None:
        return query
    from_kw_start = m.end() - 4
    sel = None
    for sm in _SELECT_KW_RE.finditer(masked, m.end()):
        if _depth_at(masked, sm.start()) == 0:
            sel = sm
            break
    if sel is None:
        return query[:from_kw_start] + "SELECT * " + query[from_kw_start:]
    # a set-operation keyword BETWEEN the FROM head and the first
    # depth-0 SELECT means that SELECT belongs to the second branch
    # ('FROM a UNION ALL SELECT ...') — reordering would corrupt the
    # statement, so reject it honestly instead
    for sm in re.finditer(
        r"\b(?:UNION|INTERSECT|EXCEPT)\b", masked[m.end():sel.start()],
        re.IGNORECASE,
    ):
        if _depth_at(masked, m.end() + sm.start()) == 0:
            raise ValueError(
                "FROM-first with a set operation before the SELECT "
                "clause is not supported — spell every set-operation "
                "branch SELECT-first"
            )
    from_part = query[m.end():sel.start()]
    clause = None
    for cm in _FF_CLAUSE_RE.finditer(masked, sel.end()):
        if _depth_at(masked, cm.start()) != 0:
            continue
        # `* EXCEPT (a, b)` is a star MODIFIER inside the select list
        # (Spark parses it natively), not the set operation — don't
        # split the statement there
        if cm.group(0).upper() == "EXCEPT":
            before = masked[sel.end(): cm.start()].rstrip()
            if before.endswith("*"):
                continue
        clause = cm
        break
    select_list = query[sel.end(): clause.start() if clause else len(query)]
    trailing = query[clause.start():] if clause else ""
    return (
        query[:from_kw_start]
        + "SELECT "
        + select_list.strip()
        + " FROM "
        + from_part.strip()
        + (" " + trailing if trailing else "")
    )


def sql(
    spark: SparkSession,
    query: str,
    right_order: str | None = None,
    limit: int | None = None,
) -> DataFrame:
    """DuckDB-dialect entry point: applies the ``* REPLACE`` and
    ``* EXCLUDE`` spelling rewrites, then the DISTINCT ON rewrite
    (nested blocks innermost-first, then top-level), then the ASOF
    JOIN rewrite (its clause sits in FROM,
    textually before any QUALIFY), then the QUALIFY rewrite on the
    rewritten statement, then plain ``spark.sql``. They compose —
    ``FROM a ASOF JOIN b ... QUALIFY row_number() OVER (...) = 1`` is
    the natural "latest reading per sensor, keep rank 1" TSDB query.
    Statements using none pass through unchanged
    (GROUP BY ALL / ORDER BY ALL / ``* EXCEPT`` need no rewrite —
    Spark parses those natively). ``SUMMARIZE <table>`` routes to the
    column profiler (see ``_maybe_summarize``). FROM-first
    statements (``FROM t [SELECT ...] ...`` — see
    ``_rewrite_from_first``) are canonicalized to SELECT-first before
    any other pass runs, so every dialect feature composes with them.

    ``EXPLAIN [EXTENDED|CODEGEN|COST|FORMATTED] <stmt>``: the
    prefix is peeled, the inner statement goes through THIS function
    recursively — so every dialect feature (ASOF/QUALIFY/DISTINCT
    ON/COLUMNS/star modifiers AND the SUMMARIZE/PIVOT/UNPIVOT verbs)
    explains exactly as it would run — and the resulting plan renders
    through the same JVM path ``DataFrame.explain`` uses, returned as
    Spark's native 1-row ``(plan string)`` EXPLAIN shape. Nothing is
    WRITTEN (the read-only gate below rejects DDL/DML), and for every
    verb except one nothing executes at all. The exception: ``EXPLAIN
    PIVOT`` — a PIVOT statement without an IN list
    cannot even be PLANNED without knowing the pivot values, so
    ``_maybe_pivot``'s value discovery runs its distinct scan at
    rewrite time exactly as the bare statement would; on a large
    table that scan is real work. Pass an explicit ``IN (...)`` list
    to make EXPLAIN PIVOT plan-only too.

    ``limit`` keeps the first ``limit`` rows of the result, as
    ``DataFrame.limit`` does; over an ORDER BY Spark plans that as one
    top-k pass (``TakeOrderedAndProject``). An EXPLAIN's one plan row
    comes back as is."""
    # match on a comment-blanked masked copy (length-preserving, so
    # em.end() indexes into the original): the gate admits
    # "/* audit */ EXPLAIN ..." and this entry must recognize the
    # same spelling
    em = re.match(
        r"\s*EXPLAIN(?:\s+(EXTENDED|CODEGEN|COST|FORMATTED))?\s+",
        _blank_comments_preserving(_mask_string_literals(query)),
        re.IGNORECASE,
    )
    if em is not None:
        mode = (em.group(1) or "simple").lower()
        inner = query[em.end():]
        if not is_query_statement(inner):
            # the recursion runs the inner statement through spark.sql,
            # which EXECUTES DDL/DML eagerly — "EXPLAIN INSERT ..."
            # must never become a write that merely LOOKS planned
            raise ValueError(
                "EXPLAIN supports read-only query statements only"
            )
        inner_df = sql(spark, inner, right_order=right_order)
        text = spark._jvm.PythonSQLUtils.explainString(
            inner_df._jdf.queryExecution(), mode
        )
        return spark.createDataFrame([(text,)], "plan string")
    # FROM-first syntax (DuckDB parity): reorder before any
    # verb/rewrite looks at the statement — downstream passes only
    # ever see the canonical SELECT-first spelling
    query = _rewrite_from_first(query)
    df = _maybe_summarize(spark, query)
    if df is None:
        df = _maybe_pivot(spark, query)
    if df is None:
        df = _maybe_unpivot(spark, query)
    if df is None:
        rewritten = _rewrite_asof(
            spark,
            _rewrite_distinct_on_nested(
                _rewrite_exclude(
                    _rewrite_star_replace(_rewrite_columns(spark, query))
                )
            ),
            right_order=right_order,
        )
        df = sql_with_qualify(spark, rewritten)
    return df if limit is None else df.limit(limit)
