"""BI/HTTP SQL serving endpoint (SURVEY.md §2.1 S7).

The reference serves BI over ClickHouse's HTTP interface: Superset connects
to ``clickhouse+connect://superset:…@clickhouse:8123`` and may read gold
tables only, through the SELECT-only ``bi_reader`` role
(reference docker-compose.yml:144-159, clickhouse/init/00_databases.sql:4-21,
superset/bootstrap/README_superset.md:4-6).  This module re-expresses that
serving contract Spark-side with no external dependencies:

- **HTTP endpoint** (stdlib ``http.server``): ``GET/POST /query?q=<SQL>``
  returns JSON rows, bound to 127.0.0.1.
- **Read-only role analog**: queries run in an ISOLATED ``newSession()``
  whose temp-view catalog contains exactly the registered gold views — a
  reference to any other table fails analysis, the same visibility the
  ``bi_reader`` grant enforces.  Statements that are not pure queries
  (INSERT/CREATE/DROP/SET/…) are refused before execution.
- **Superset envelope**: results are capped at 50 000 rows and queries at a
  60 s timeout by default (reference superset/superset_config.py:1-2).

A Spark Connect / Thrift server would serve the same views to real BI tools
(the jars ship with Spark); the grpc/thrift *client* stacks are absent in
this environment, so the demo speaks plain HTTP — which is also what the
reference's own BI link uses.
"""

from __future__ import annotations

import collections
import itertools
import json
import re
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from .io import read_parquet

#: statement keywords that may START a served query
_QUERY_STARTERS = ("select", "with", "values", "table", "explain")

_JOB_GROUP_SEQ = itertools.count()

#: ClickHouse-HTTP output formats the endpoint renders (the subset a BI /
#: export consumer actually requests over the reference's port-8123 link)
_FORMATS = (
    "JSON", "JSONEachRow", "JSONCompact", "CSV", "CSVWithNames",
    "TSV", "TSVWithNames", "Vertical",
)
_FORMAT_RE = re.compile(r"\bFORMAT\s+(\w+)\s*$", re.IGNORECASE)
#: trailing `SETTINGS k = v, …` clause (ClickHouse grammar places it after
#: the query body, before FORMAT); values are numbers/idents/'strings'
_SETTINGS_RE = re.compile(
    r"\bSETTINGS\s+\w+\s*=\s*[^,]+(?:\s*,\s*\w+\s*=\s*[^,]+)*\s*$",
    re.IGNORECASE,
)
_SETTING_PAIR_RE = re.compile(r"(\w+)\s*=\s*('[^']*'|[^\s,]+)")
#: ``KILL QUERY WHERE query_id = '…'`` — the one management statement the
#: endpoint serves (admin-only); everything else stays read-only
_KILL_QUERY_RE = re.compile(
    r"^KILL\s+QUERY\s+WHERE\s+query_id\s*=\s*'([^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
#: functions whose result depends on when/where the query runs — ClickHouse
#: refuses to cache a query containing one unless
#: query_cache_nondeterministic_function_handling says otherwise
_NONDETERMINISTIC_RE = re.compile(
    r"\b(now|today|yesterday|rand|randn|random|uuid|shuffle|"
    r"current_timestamp|current_date|current_timezone|unix_timestamp|"
    r"monotonically_increasing_id|input_file_name)\b",
    re.IGNORECASE,
)
#: `{name:Type}` query-parameter placeholders (ClickHouse HTTP `param_*`)
_PARAM_RE = re.compile(r"\{(\w+)\s*:\s*([A-Za-z0-9()]+)\}")
_INT_TYPES = {"int8", "int16", "int32", "int64",
              "uint8", "uint16", "uint32", "uint64"}
_FLOAT_TYPES = {"float32", "float64"}
_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2})?$")


class QuotaExceeded(Exception):
    """Raised when a role's query quota window is exhausted (HTTP 429)."""


def _csv_cell(v, sep: str) -> str:
    if v is None:
        return "\\N"
    s = str(v)
    if sep == "," and any(ch in s for ch in ",\"\n"):
        return '"' + s.replace('"', '""') + '"'
    if sep == "\t":
        return s.replace("\\", "\\\\").replace("\t", "\\t").replace(
            "\n", "\\n"
        )
    return s


def _render(fmt: str, columns: list[str], rows: list[list]) -> tuple[bytes, str]:
    """Render rows in a ClickHouse output format → (body, content-type)."""
    if fmt == "JSON":
        body = json.dumps(
            {
                "meta": [{"name": c} for c in columns],
                "data": [dict(zip(columns, r)) for r in rows],
                "rows": len(rows),
            },
            default=str,
        )
        return body.encode("utf-8"), "application/json"
    if fmt == "JSONEachRow":
        body = "".join(
            json.dumps(dict(zip(columns, r)), default=str) + "\n"
            for r in rows
        )
        return body.encode("utf-8"), "application/x-ndjson"
    if fmt == "JSONCompact":
        body = json.dumps(
            {
                "meta": [{"name": c} for c in columns],
                "data": [list(r) for r in rows],
                "rows": len(rows),
            },
            default=str,
        )
        return body.encode("utf-8"), "application/json"
    if fmt == "Vertical":
        width = max((len(c) for c in columns), default=0)
        blocks = []
        for i, r in enumerate(rows, 1):
            lines_ = [f"Row {i}:", "─" * 8]
            lines_ += [
                f"{c.rjust(width)}: {'' if v is None else v}"
                for c, v in zip(columns, r)
            ]
            blocks.append("\n".join(lines_))
        body = "\n\n".join(blocks) + ("\n" if blocks else "")
        return body.encode("utf-8"), "text/plain; charset=utf-8"
    sep = "," if fmt.startswith("CSV") else "\t"
    lines = []
    if fmt.endswith("WithNames"):
        lines.append(sep.join(_csv_cell(c, sep) for c in columns))
    for r in rows:
        lines.append(sep.join(_csv_cell(v, sep) for v in r))
    body = "\n".join(lines) + ("\n" if lines else "")
    return body.encode("utf-8"), "text/csv" if sep == "," else (
        "text/tab-separated-values"
    )


def _mask_quoted(sql: str, mask_backticks: bool) -> str:
    """Blank out the contents of quoted regions and comments so lexical
    checks (statement separators, identifier deny-list) operate on the same
    token stream the SQL lexer sees.  The scanner must TRACK every region
    kind the lexer knows — ``'…'``/``"…"`` literals (backslash and
    doubled-quote escapes), backtick identifiers, ``--`` line comments and
    ``/*…*/`` block comments — even when a region kind is left visible,
    because a quote character INSIDE a comment or backtick identifier is
    plain text, not a string opener; treating it as one desynchronizes the
    mask and lets deny-listed identifiers hide behind it.  Comments are
    always blanked.  ``mask_backticks`` chooses whether backtick contents
    are blanked (';' scan) or kept (identifier deny scan)."""
    out: list[str] = []
    i, n, q = 0, len(sql), None
    while i < n:
        c = sql[i]
        if q is None:
            if c == "-" and i + 1 < n and sql[i + 1] == "-":
                j = sql.find("\n", i)
                j = n if j < 0 else j
                out.append(" " * (j - i))
                i = j
            elif c == "/" and i + 1 < n and sql[i + 1] == "*":
                j = sql.find("*/", i + 2)
                j = n if j < 0 else j + 2
                out.append(" " * (j - i))
                i = j
            else:
                if c in "'\"`":
                    q = c
                out.append(c)
                i += 1
        elif c == "\\" and q in "'\"" and i + 1 < n:
            out.append("  " if q != "`" else sql[i:i + 2])
            i += 2
        elif c == q:
            if i + 1 < n and sql[i + 1] == q:  # doubled-quote escape
                out.append("  " if not (q == "`" and not mask_backticks)
                           else sql[i:i + 2])
                i += 2
            else:
                q = None
                out.append(c)
                i += 1
        else:
            keep = q == "`" and not mask_backticks
            out.append(c if keep else " ")
            i += 1
    return "".join(out)


class SqlServingEndpoint:
    """Serve registered gold views over HTTP SQL, read-only.

    ``views`` maps view name → parquet path, or → a function of the serving
    session returning the view's DataFrame (how warehouse tables are served:
    a raw scan of a table directory would see uncommitted and superseded
    members).  The views are built in a fresh ``newSession()`` so the
    serving catalog holds ONLY these views (plus the shared persistent
    catalog, which this engine does not use).
    """

    #: cap on per-role isolated sessions (LRU-evicted beyond) — without a
    #: bound, arbitrary client-supplied role strings grow the dict forever
    _MAX_ROLE_SESSIONS = 32

    def __init__(
        self,
        spark: SparkSession,
        views: dict[str, str],
        max_rows: int = 50_000,
        timeout_sec: float = 60.0,
        role_keys: dict[str, str] | None = None,
        admin_key: str | None = None,
        query_cache_max_entries: int = 128,
    ):
        """``role_keys`` binds roles to shared-secret credentials: when
        set, the HTTP layer accepts a role claim ONLY with the matching
        ``X-Role-Key`` header / ``role_key`` query param, rejects unknown
        roles, and DENIES requests presenting no role at all (default-deny
        — a policy-protected deployment must not hand admin visibility to
        whoever omits the header) unless ``admin_key`` is configured and
        presented via ``X-Admin-Key`` / ``admin_key``.  When ``role_keys``
        is None (default), the role is TRUST-THE-CALLER identification
        only — suitable strictly behind an authenticating proxy, exactly
        like an unsecured ClickHouse HTTP port."""
        self.serving = spark.newSession()
        self._views = dict(views)
        self._role_keys = dict(role_keys) if role_keys is not None else None
        self._admin_key = admin_key
        #: ClickHouse ROW POLICY analog: {table: {role: [using_sql, ...]}}.
        #: Policies are PERMISSIVE grants (CH semantics): once a table has
        #: any policy, a role sees the OR of its own conditions — and a
        #: role with none sees NO rows; tables without policies stay open.
        self._policies: dict[str, dict[str, list[str]]] = {}
        self._role_sessions: dict[str, SparkSession] = {}
        #: role → (max_queries, window_sec); hit timestamps per role
        self._quotas: dict[str, tuple[int, float]] = {}
        self._quota_hits: dict[str, list[float]] = {}
        self._quota_lock = threading.Lock()
        #: ``system.query_log`` analog — bounded ring of executed
        #: statements (statement, role, status, rows, duration)
        self._query_log: collections.deque = collections.deque(maxlen=1000)
        #: ClickHouse query cache analog (``SETTINGS use_query_cache = 1``):
        #: OPT-IN per statement, keyed by (role, normalized sql, row cap) —
        #: per-role keying mirrors query_cache_share_between_users = 0, and
        #: is load-bearing here because row policies differ per role.  LRU
        #: beyond ``query_cache_max_entries``; entries carry their own TTL
        #: (``query_cache_ttl`` setting, default 60 s like ClickHouse).
        self._query_cache: collections.OrderedDict[tuple, dict] = (
            collections.OrderedDict()
        )
        self._query_cache_max = int(query_cache_max_entries)
        self._query_cache_lock = threading.Lock()
        self._query_cache_hits = 0
        self._query_cache_misses = 0
        #: ``system.processes`` analog — statements currently executing,
        #: keyed by query_id (= the request's job group), so ``KILL QUERY
        #: WHERE query_id = '…'`` can cancel the tagged Spark jobs
        self._processes: dict[str, dict] = {}
        self._processes_lock = threading.Lock()
        #: ``system.metrics``/``system.events`` analog — monotonic
        #: counters over the endpoint's lifetime
        self._metrics = collections.Counter()
        self._metrics_lock = threading.Lock()
        self._register_views(self.serving, role=None)
        self.view_names = sorted(views)
        self.max_rows = max_rows
        self.timeout_sec = timeout_sec
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def _register_views(self, sess: SparkSession, role: str | None) -> None:
        # bi_reader visibility is the CATALOG, not the filesystem: without
        # this, ``SELECT * FROM parquet.`/any/path``` (runSQLOnFiles,
        # default true) would read arbitrary parquet/text paths straight
        # past the gold-views-only contract.
        sess.conf.set("spark.sql.runSQLOnFiles", "false")
        from pyspark.sql import functions as F

        for name, src in self._views.items():
            df = src(sess) if callable(src) else read_parquet(sess, src)
            table_policies = self._policies.get(name)
            if role is not None and table_policies is not None:
                conds = table_policies.get(role, [])
                if conds:
                    df = df.filter(
                        F.expr(" OR ".join(f"({c})" for c in conds))
                    )
                else:
                    df = df.filter(F.lit(False))
            df.createOrReplaceTempView(name)

    # -- row policies (CREATE ROW POLICY … USING … TO role) -----------------

    def add_row_policy(self, table: str, role: str, using_sql: str) -> None:
        """``CREATE ROW POLICY ON table FOR SELECT USING using_sql TO
        role``: every query executed with ``role=`` sees only rows
        matching the OR of that role's policies on each policy-bearing
        table.  Admin calls (``role=None``) bypass policies entirely."""
        if table not in self._views:
            raise ValueError(f"no such serving view: {table!r}")
        self._policies.setdefault(table, {}).setdefault(role, []).append(
            using_sql
        )
        self._role_sessions.clear()  # rebuilt lazily with the new policy
        self.drop_query_cache()  # cached results predate the policy

    # -- quotas (CREATE QUOTA … FOR INTERVAL n SECOND MAX QUERIES k) --------

    def set_quota(
        self, role: str, max_queries: int, window_sec: float = 3600.0
    ) -> None:
        """``CREATE QUOTA … FOR INTERVAL window MAX QUERIES k TO role``:
        at most ``max_queries`` accepted statements per sliding window;
        excess requests fail with :class:`QuotaExceeded` (HTTP 429).
        Admin calls (``role=None``) are never metered."""
        with self._quota_lock:
            self._quotas[role] = (int(max_queries), float(window_sec))
            self._quota_hits.setdefault(role, [])

    def _charge_quota(self, role: str | None) -> None:
        if role is None or role not in self._quotas:
            return
        import time

        limit, window = self._quotas[role]
        now = time.monotonic()
        with self._quota_lock:
            hits = self._quota_hits[role]
            hits[:] = [t for t in hits if now - t < window]
            if len(hits) >= limit:
                raise QuotaExceeded(
                    f"quota exceeded for role {role!r}: "
                    f"{limit} queries / {window:g}s"
                )
            hits.append(now)

    # -- system.query_log analog --------------------------------------------

    def _log_query(
        self, sql: str, role: str | None, status: str, rows: int,
        elapsed: float,
    ) -> None:
        import time

        self._query_log.append(
            {
                "event_time": time.time(),
                "query": sql[:500],
                "role": role,
                "status": status,
                "result_rows": rows,
                "duration_ms": round(elapsed * 1000, 1),
            }
        )

    def query_log(self, limit: int = 100) -> list[dict]:
        """Most-recent-first slice of the ``system.query_log`` analog."""
        out = list(self._query_log)[-limit:]
        out.reverse()
        return out

    # -- query cache (SETTINGS use_query_cache = 1) --------------------------

    @staticmethod
    def _cache_key(role: str | None, sql: str, cap: int) -> tuple:
        # normalize whitespace OUTSIDE quoted literals so formatting-only
        # variants of the same statement share an entry (ClickHouse keys
        # on the AST; whitespace folding is the text-level analog that
        # cannot merge semantically different queries)
        masked = _mask_quoted(sql, mask_backticks=True)
        out, last = [], 0
        for m in re.finditer(r"\s+", masked):
            # the mask blanks literal/backtick CONTENTS to spaces, so a
            # \s+ run in `masked` may cover real literal text in `sql`;
            # folding those spans would merge queries that differ only in
            # a string literal.  Fold only spans that are whitespace in
            # the ORIGINAL text.
            if not sql[m.start():m.end()].isspace():
                continue
            out.append(sql[last:m.start()])
            out.append(" ")
            last = m.end()
        out.append(sql[last:])
        return (role, "".join(out).strip(), cap)

    def drop_query_cache(self) -> None:
        """``SYSTEM DROP QUERY CACHE``."""
        with self._query_cache_lock:
            self._query_cache.clear()

    def query_cache_entries(self) -> list[dict]:
        """``system.query_cache`` analog: one row per live entry with its
        key text, role, result size, expiry and hit count."""
        import time

        now = time.monotonic()
        with self._query_cache_lock:
            return [
                {
                    "query": k[1][:500],
                    "role": k[0],
                    "result_rows": len(e["rows"]),
                    "stale": now >= e["expires_at"],
                    "hits": e["hits"],
                }
                for k, e in self._query_cache.items()
            ]

    def query_cache_stats(self) -> dict:
        with self._query_cache_lock:
            return {
                "entries": len(self._query_cache),
                "hits": self._query_cache_hits,
                "misses": self._query_cache_misses,
            }

    def _cache_get(self, key: tuple):
        import time

        with self._query_cache_lock:
            e = self._query_cache.get(key)
            if e is None or time.monotonic() >= e["expires_at"]:
                if e is not None:
                    del self._query_cache[key]
                self._query_cache_misses += 1
                return None
            e["hits"] += 1
            self._query_cache_hits += 1
            self._query_cache.move_to_end(key)
            return e

    def _cache_put(
        self, key: tuple, cols: list[str], rows: list[list], ttl: float
    ) -> None:
        import time

        with self._query_cache_lock:
            self._query_cache[key] = {
                "cols": cols,
                "rows": rows,
                "expires_at": time.monotonic() + ttl,
                "hits": 0,
            }
            self._query_cache.move_to_end(key)
            while len(self._query_cache) > self._query_cache_max:
                self._query_cache.popitem(last=False)

    def authenticate(self, role: str | None, key: str | None) -> None:
        """HTTP-layer credential check (no-op unless ``role_keys`` was
        configured).  Raises PermissionError → 403 for an unknown role, a
        wrong/missing key, or a role-less request without the admin
        key."""
        import hmac

        def eq(a: str, b: str) -> bool:
            # bytes form: compare_digest rejects non-ascii str
            return hmac.compare_digest(a.encode("utf-8"), b.encode("utf-8"))

        if self._role_keys is None:
            return
        if role is None:
            if self._admin_key is not None and key is not None and eq(
                key, self._admin_key
            ):
                return
            raise PermissionError(
                "this endpoint requires a role credential "
                "(X-Role / X-Role-Key)"
            )
        expected = self._role_keys.get(role)
        if expected is None or key is None or not eq(key, expected):
            raise PermissionError(f"bad credential for role {role!r}")

    def _session_for(self, role: str | None) -> SparkSession:
        if role is None:
            return self.serving
        sess = self._role_sessions.get(role)
        if sess is None:
            # one isolated temp-view namespace per role: concurrent
            # requests under different roles never race on view swaps
            sess = self.serving.newSession()
            self._register_views(sess, role=role)
            self._role_sessions[role] = sess
            while len(self._role_sessions) > self._MAX_ROLE_SESSIONS:
                # LRU-bound: evict the stalest role's session (it rebuilds
                # lazily on its next request)
                self._role_sessions.pop(next(iter(self._role_sessions)))
        else:
            # refresh recency (plain dict preserves insertion order)
            self._role_sessions.pop(role)
            self._role_sessions[role] = sess
        return sess

    # -- query layer (usable without HTTP) ---------------------------------

    def execute(
        self,
        sql: str,
        job_group: str | None = None,
        role: str | None = None,
    ) -> list[dict]:
        """Run one read-only statement, return rows as dicts (row cap
        applied).  Raises ``PermissionError`` for anything but a query.
        With ``role``, row policies registered via :meth:`add_row_policy`
        filter every policy-bearing view the statement touches.

        ``job_group`` tags the Spark jobs so a caller (the HTTP timeout
        handler) can :meth:`cancel` them — thread-local under pinned-thread
        mode, so concurrent requests don't clobber each other."""
        columns, rows = self.execute_columns(sql, job_group, role)
        return [dict(zip(columns, r)) for r in rows]

    @staticmethod
    def split_format(sql: str) -> tuple[str, str | None]:
        """Strip a trailing ClickHouse ``FORMAT <name>`` clause (matched on
        the quote-masked text so a string literal ending in 'FORMAT CSV'
        stays untouched) → (bare_sql, format_or_None)."""
        stripped = sql.strip()
        while stripped.endswith(";"):
            stripped = stripped[:-1].rstrip()
        m = _FORMAT_RE.search(_mask_quoted(stripped, mask_backticks=True))
        if not m:
            return stripped, None
        fmt = next(
            (f for f in _FORMATS if f.lower() == m.group(1).lower()), None
        )
        if fmt is None:
            raise ValueError(f"unsupported output format {m.group(1)!r}")
        # the mask is length-preserving, so match offsets map 1:1
        return stripped[: m.start()].rstrip(), fmt

    @staticmethod
    def substitute_params(sql: str, params: dict[str, str]) -> str:
        """ClickHouse HTTP query parameters: replace ``{name:Type}``
        placeholders with the ``param_name`` values, validated and
        rendered BY TYPE — integers/floats must parse (a value of
        ``1; DROP …`` can never reach the statement), strings/dates
        become single-quoted literals with quotes doubled, Identifier
        becomes a backtick-quoted name.  Placeholders inside string
        literals or comments are data and stay untouched (matched on the
        quote-masked text).  Missing parameters raise ``ValueError``."""
        masked = _mask_quoted(sql, mask_backticks=True)
        out, last = [], 0
        for m in _PARAM_RE.finditer(masked):
            name, ptype = m.group(1), m.group(2)
            if name not in params:
                raise ValueError(f"missing query parameter {name!r}")
            raw = params[name]
            t = ptype.lower()
            if t in _INT_TYPES:
                lit = str(int(raw))
            elif t in _FLOAT_TYPES:
                lit = repr(float(raw))
            elif t in ("date", "datetime", "datetime64"):
                if not _DATE_RE.match(raw.strip()):
                    raise ValueError(
                        f"parameter {name!r} is not a valid {ptype}"
                    )
                lit = "'" + raw.strip() + "'"
            elif t == "identifier":
                if not re.fullmatch(r"\w+", raw):
                    raise ValueError(
                        f"parameter {name!r} is not a valid identifier"
                    )
                lit = f"`{raw}`"
            elif t in ("string", "fixedstring"):
                lit = "'" + raw.replace("\\", "\\\\").replace("'", "\\'") \
                    + "'"
            else:
                raise ValueError(f"unsupported parameter type {ptype!r}")
            out.append(sql[last:m.start()])
            out.append(lit)
            last = m.end()
        out.append(sql[last:])
        return "".join(out)

    @staticmethod
    def split_settings(sql: str) -> tuple[str, dict[str, str]]:
        """Strip a trailing ClickHouse ``SETTINGS k = v, …`` clause (the
        tail position the grammar gives it, matched on the quote-masked
        text) → (bare_sql, {name: value}).  BI clients routinely append
        ``SETTINGS max_result_rows = n`` or engine-tuning knobs; Spark's
        parser would reject the clause, so the endpoint consumes it —
        ``max_result_rows`` tightens the row cap, everything else is
        accepted and ignored (the ClickHouse server behavior for settings
        that don't apply)."""
        stripped = sql.strip()
        while stripped.endswith(";"):
            stripped = stripped[:-1].rstrip()
        masked = _mask_quoted(stripped, mask_backticks=True)
        m = _SETTINGS_RE.search(masked)
        if not m:
            return stripped, {}
        clause = stripped[m.start():]
        body = clause.split(None, 1)[1] if len(clause.split(None, 1)) > 1 \
            else ""
        settings = {
            k.lower(): v.strip("'")
            for k, v in _SETTING_PAIR_RE.findall(body)
        }
        return stripped[: m.start()].rstrip(), settings

    def execute_columns(
        self,
        sql: str,
        job_group: str | None = None,
        role: str | None = None,
    ) -> tuple[list[str], list[list]]:
        """Like :meth:`execute` but returns (column_names, row_lists) —
        the ordered shape the CSV/TSV renderers need.  Charges the role's
        quota (:class:`QuotaExceeded` when exhausted), consumes a trailing
        ``SETTINGS`` clause, and records the statement in the
        ``system.query_log`` analog."""
        import time

        t0 = time.monotonic()
        status, n_out = "error", 0
        qid = job_group or f"local-{next(_JOB_GROUP_SEQ)}"
        with self._processes_lock:
            self._processes[qid] = {"query": sql, "role": role, "t0": t0}
        try:
            sql, settings = self.split_settings(sql)
            try:
                self._check_read_only(sql)
            except PermissionError:
                status = "denied"
                raise
            try:
                self._charge_quota(role)
            except QuotaExceeded:
                status = "quota"
                raise
            cap = self.max_rows
            if "max_result_rows" in settings:
                cap = min(cap, int(settings["max_result_rows"]))
            # ClickHouse query cache: opt-in via SETTINGS use_query_cache=1;
            # nondeterministic functions refuse caching unless the handling
            # setting says 'save' (cache anyway) or 'ignore' (run uncached)
            use_cache = str(
                settings.get("use_query_cache", "0")
            ).lower() in ("1", "true")
            cache_key = None
            if use_cache:
                nd = settings.get(
                    "query_cache_nondeterministic_function_handling",
                    "throw",
                ).lower()
                if _NONDETERMINISTIC_RE.search(
                    _mask_quoted(sql, mask_backticks=True)
                ):
                    if nd == "throw":
                        raise ValueError(
                            "query result cache refused: statement calls a "
                            "nondeterministic function (set query_cache_"
                            "nondeterministic_function_handling = 'save' "
                            "or 'ignore')"
                        )
                    if nd == "ignore":
                        use_cache = False
            if use_cache:
                cache_key = self._cache_key(role, sql, cap)
                hit = self._cache_get(cache_key)
                if hit is not None:
                    status, n_out = "cached", len(hit["rows"])
                    return list(hit["cols"]), [list(r) for r in hit["rows"]]
            sess = self._session_for(role)
            if job_group is not None:
                try:  # absent under Spark Connect — timeout best-effort
                    sess.sparkContext.setJobGroup(
                        job_group, sql[:200], interruptOnCancel=True
                    )
                except Exception:
                    pass
            df = sess.sql(sql)
            with self._processes_lock:
                if self._processes.get(qid, {}).get("killed"):
                    raise RuntimeError(
                        f"query {qid!r} was cancelled (KILL QUERY)"
                    )
            rows = df.limit(cap).collect()
            cols = list(df.columns)
            status, n_out = "ok", len(rows)
            # asDict(recursive) keeps nested structs JSON-shaped (dicts)
            out_rows = [
                [d[c] for c in cols]
                for d in (r.asDict(recursive=True) for r in rows)
            ]
            if cache_key is not None:
                ttl = float(settings.get("query_cache_ttl", 60.0))
                self._cache_put(cache_key, cols, out_rows, ttl)
            return cols, out_rows
        finally:
            with self._processes_lock:
                self._processes.pop(qid, None)
            with self._metrics_lock:
                self._metrics["queries"] += 1
                self._metrics[f"queries_{status}"] += 1
                self._metrics["result_rows"] += n_out
            self._log_query(
                sql, role, status, n_out, time.monotonic() - t0
            )

    # -- system.processes analog + KILL QUERY --------------------------------

    def processes(self) -> list[dict]:
        """``system.processes`` analog: one row per currently-executing
        statement (query_id, query text, role, elapsed seconds)."""
        import time

        now = time.monotonic()
        with self._processes_lock:
            return [
                {
                    "query_id": qid,
                    "query": e["query"][:500],
                    "role": e["role"],
                    "elapsed_s": round(now - e["t0"], 3),
                }
                for qid, e in self._processes.items()
            ]

    def metrics(self) -> dict:
        """``system.metrics``/``system.events`` analog: monotonic
        counters (total/ok/cached/denied/quota/error statement counts,
        rows served) plus the query-cache gauges."""
        with self._metrics_lock:
            out = dict(self._metrics)
        out.update(
            {f"query_cache_{k}": v for k, v in self.query_cache_stats().items()}
        )
        with self._processes_lock:
            out["running_queries"] = len(self._processes)
        return out

    def kill_query(self, query_id: str) -> bool:
        """``KILL QUERY WHERE query_id = '…'``: cancel the Spark jobs
        tagged with the statement's job group.  Returns whether a live
        statement with that id existed.  The killed request's executing
        thread surfaces the cancellation as an error (the ClickHouse
        QUERY_WAS_CANCELLED shape)."""
        with self._processes_lock:
            entry = self._processes.get(query_id)
            if entry is None:
                return False
            # marker for the pre-execution window (analysis, queueing):
            # the executing thread checks it before submitting jobs,
            # because cancelJobGroup only reaches ALREADY-ACTIVE jobs
            entry["killed"] = True
        self.cancel(query_id)
        return True

    def cancel(self, job_group: str) -> None:
        """Cancel all Spark jobs tagged with ``job_group`` (no-op when the
        session has no driver-side SparkContext, e.g. Spark Connect)."""
        try:
            self.serving.sparkContext.cancelJobGroup(job_group)
        except Exception:
            pass

    def _check_read_only(self, sql: str) -> None:
        stripped = sql.strip()
        while stripped.endswith(";"):
            stripped = stripped[:-1].rstrip()
        # ';' is a separator only OUTSIDE quoted literals/identifiers:
        # `SELECT ';' AS sep` is one statement, and a backtick identifier
        # may legally contain ';'.
        masked = _mask_quoted(stripped, mask_backticks=True)
        if ";" in masked:
            raise PermissionError("multi-statement requests are not served")
        # statement kind comes from the COMMENT-MASKED text: BI tools
        # routinely prepend '-- tool: ...' or '/* tag */' to a legitimate
        # SELECT, and the raw first token would be '--'
        first = masked.split(None, 1)[0].lower() if masked.split() else ""
        if first not in _QUERY_STARTERS:
            raise PermissionError(
                f"read-only endpoint: statement kind {first!r} is not served"
            )
        # global_temp views are shared across ALL sessions of the JVM, so a
        # reference to them would see past the serving session's isolated
        # temp catalog.  Checked on literal-masked text (NOT backtick-masked,
        # so `global_temp`.`v` is still caught).
        if re.search(
            r"\bglobal_temp\b", _mask_quoted(stripped, mask_backticks=False),
            re.IGNORECASE,
        ):
            raise PermissionError(
                "read-only endpoint: global_temp references are not served"
            )
        # defense in depth: refuse plans that parse to commands/DML even when
        # disguised behind a query-looking prefix.  The private JVM handle is
        # absent under Spark Connect; the keyword + global_temp + catalog
        # checks above remain the contract there.
        jsp = getattr(self.serving, "_jsparkSession", None)
        if jsp is None:
            return
        jparser = jsp.sessionState().sqlParser()
        plan_cls = jparser.parsePlan(stripped).getClass().getName()
        deny = ("Command", "Insert", "Create", "Drop", "Alter", "Merge",
                "Update", "Delete", "Truncate")
        simple = plan_cls.rsplit(".", 1)[-1]
        # EXPLAIN parses to ExplainCommand but only ANALYZES its child —
        # it is a read statement (CH serves it); the child itself still
        # went through every lexical check above, and planning it cannot
        # execute it
        if simple == "ExplainCommand":
            return
        if any(d in simple for d in deny):
            raise PermissionError(f"read-only endpoint: {simple} is not served")

    # -- HTTP layer --------------------------------------------------------

    def start(self, port: int = 0) -> int:
        """Start serving on 127.0.0.1 (ephemeral port by default); returns
        the bound port."""
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *_args):  # quiet test output
                pass

            def _respond(self, code: int, payload: dict) -> None:
                body = json.dumps(payload, default=str).encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _raw(self, code: int, body: bytes, ctype: str) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _serve(
                self,
                sql: str,
                role: str | None = None,
                default_format: str | None = None,
                params: dict[str, str] | None = None,
                role_key: str | None = None,
                query_id: str | None = None,
            ) -> None:
                try:
                    endpoint.authenticate(role, role_key)
                except PermissionError as e:
                    self._respond(403, {"error": str(e)})
                    return
                if not sql:
                    self._respond(400, {"error": "missing q parameter"})
                    return
                m_kill = _KILL_QUERY_RE.match(sql.strip())
                if m_kill is not None:
                    # KILL QUERY is management, not reading — admin only
                    if role is not None:
                        self._respond(
                            403,
                            {"error": "KILL QUERY requires admin (no role)"},
                        )
                        return
                    killed = endpoint.kill_query(m_kill.group(1))
                    self._respond(
                        200,
                        {"killed": int(killed), "query_id": m_kill.group(1)},
                    )
                    return
                try:
                    if params:
                        sql = endpoint.substitute_params(sql, params)
                    # in-SQL `FORMAT X` wins over ?default_format= (the
                    # ClickHouse HTTP precedence)
                    sql, fmt = endpoint.split_format(sql)
                    if fmt is None and default_format is not None:
                        fmt = next(
                            (
                                f for f in _FORMATS
                                if f.lower() == default_format.lower()
                            ),
                            None,
                        )
                        if fmt is None:
                            raise ValueError(
                                f"unsupported output format "
                                f"{default_format!r}"
                            )
                except ValueError as e:
                    self._respond(400, {"error": str(e)})
                    return
                result: dict = {}
                # client-supplied ?query_id= (the ClickHouse HTTP knob)
                # doubles as the job group, so KILL QUERY can target it
                gid = query_id or f"bi-serve-{next(_JOB_GROUP_SEQ)}"

                def run():
                    try:
                        result["cols"], result["rows"] = (
                            endpoint.execute_columns(
                                sql, job_group=gid, role=role
                            )
                        )
                    except PermissionError as e:
                        result["denied"] = str(e)
                    except QuotaExceeded as e:
                        result["quota"] = str(e)
                    except Exception as e:  # analysis/execution errors
                        result["error"] = str(e)[:2000]

                # SETTINGS max_execution_time tightens (never widens) the
                # endpoint timeout for THIS request — the CH per-query knob
                timeout = endpoint.timeout_sec
                try:
                    _bare, peek = endpoint.split_settings(sql)
                    if "max_execution_time" in peek:
                        timeout = min(
                            timeout, float(peek["max_execution_time"])
                        )
                except Exception:
                    pass
                t = threading.Thread(target=run, daemon=True)
                t.start()
                t.join(timeout)
                if t.is_alive():
                    # a 504 must RELEASE the cluster, not just the socket —
                    # cancel the tagged jobs so slow queries can't pile up
                    endpoint.cancel(gid)
                    self._respond(504, {"error": "query timeout"})
                elif "denied" in result:
                    self._respond(403, {"error": result["denied"]})
                elif "quota" in result:
                    self._respond(429, {"error": result["quota"]})
                elif "error" in result:
                    self._respond(400, {"error": result["error"]})
                elif fmt is not None:
                    body, ctype = _render(fmt, result["cols"], result["rows"])
                    self._raw(200, body, ctype)
                else:
                    rows = [
                        dict(zip(result["cols"], r)) for r in result["rows"]
                    ]
                    self._respond(200, {"rows": rows, "n": len(rows)})

            def do_GET(self):
                parsed = urllib.parse.urlparse(self.path)
                # BI discovery endpoints: the catalog listing a connector
                # probes before issuing SQL, and a load-balancer liveness
                # probe that must not run a query
                if parsed.path == "/tables":
                    self._respond(200, {"tables": endpoint.view_names})
                    return
                if parsed.path == "/healthz":
                    self._respond(
                        200, {"ok": True, "tables": len(endpoint.view_names)}
                    )
                    return
                if parsed.path == "/system/query_log":
                    qs0 = urllib.parse.parse_qs(parsed.query)
                    n = int(qs0.get("limit", ["100"])[0])
                    self._respond(200, {"entries": endpoint.query_log(n)})
                    return
                if parsed.path == "/system/processes":
                    self._respond(200, {"entries": endpoint.processes()})
                    return
                if parsed.path == "/system/metrics":
                    self._respond(200, endpoint.metrics())
                    return
                if parsed.path != "/query":
                    self._respond(404, {"error": "use /query?q=<SQL>"})
                    return
                qs = urllib.parse.parse_qs(parsed.query)
                q = qs.get("q", [""])[0]
                role = qs.get("role", [None])[0]
                key = qs.get("role_key", [None])[0]
                if key is None:
                    key = qs.get("admin_key", [None])[0]
                self._serve(
                    q, role=role,
                    default_format=qs.get("default_format", [None])[0],
                    params={
                        k[len("param_"):]: v[0]
                        for k, v in qs.items() if k.startswith("param_")
                    },
                    role_key=key,
                    query_id=qs.get("query_id", [None])[0],
                )

            def do_POST(self):
                n = int(self.headers.get("Content-Length", "0"))
                key = self.headers.get("X-Role-Key")
                if key is None:
                    key = self.headers.get("X-Admin-Key")
                self._serve(
                    self.rfile.read(n).decode("utf-8"),
                    role=self.headers.get("X-Role"),
                    default_format=self.headers.get("X-Format"),
                    role_key=key,
                    query_id=self.headers.get("X-Query-Id"),
                )

        self._server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self._server.server_address[1]

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
