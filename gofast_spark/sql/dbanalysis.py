"""``DBAnalysis`` — the reference's SQL entry point, re-homed on Spark SQL.

Reference: gofast/query.py:111-911.  There, ``fit`` copies a pandas frame
into SQLite and every method regex-validates the SQL's *intent* before
handing it to the SQLite planner.  Here ``fit`` registers temp views and
``spark.sql`` hands the string to Catalyst — distributed planning replaces
SQLite, the intent validators port verbatim, and results stay lazy
DataFrames (``return_type='raw'`` collects, mirroring the reference's
fetchall path).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


class NotFittedError(RuntimeError):
    pass


class DBAnalysis:
    """Query a set of DataFrames through SQL.

    Parity map (reference gofast/query.py):

    - ``fit(df, table)``        <- :115  (``to_sql`` -> temp view)
    - ``query(sql)``            <- :223
    - ``aggregate(sql)``        <- :267  (must contain an aggregate fn)
    - ``joinTables(sql)``       <- :327  (must contain JOIN)
    - ``subqueriesAndTempTables(sqls)`` <- :386 (CTE / subquery check)
    - ``windowFunctions(sql)``  <- :639  (must contain OVER (...))
    - ``manipulate``/``transform``/``commit`` <- :488,590,538 — DML
      compiled to view rewrites (see the DML section below)
    - ``storedProcedures``      <- :697  (registered Python callables)
    - ``ensureDataIntegrity``   <- :753  (zero-violations check)
    - ``scalabilityPerformance``<- :802  (timed end-to-end run)
    - ``compatibilityIntegration`` <- :843, ``inspect`` <- :886
    """

    _AGG_RE = re.compile(r"\b(COUNT|SUM|AVG|MAX|MIN)\s*\(", re.IGNORECASE)
    _JOIN_RE = re.compile(r"\bJOIN\b", re.IGNORECASE)
    _WINDOW_RE = re.compile(r"\bOVER\s*\(", re.IGNORECASE)
    _SUBQ_RE = re.compile(r"\bWITH\b|\(\s*SELECT\b", re.IGNORECASE)

    def __init__(self, spark: SparkSession, *, verbose: int = 0):
        self.spark = spark
        self.verbose = verbose
        self.tables_: list[str] = []
        self._staged: list[str] = []
        self._procedures: dict[str, object] = {}

    # -- lifecycle ---------------------------------------------------------

    def fit(self, data: DataFrame | dict[str, DataFrame], table_name: str | None = None):
        """Register frame(s) as queryable tables.

        Accepts a single frame + name (reference signature) or a dict of
        name -> frame.  Views are session-scoped and zero-copy — no data
        movement happens until a query runs (unlike the reference's
        ``to_sql`` materialization).
        """
        if isinstance(data, dict):
            items = data.items()
        else:
            if table_name is None:
                raise ValueError("table_name required when fitting a single frame")
            items = [(table_name, data)]
        for name, df in items:
            df.createOrReplaceTempView(name)
            if name not in self.tables_:
                self.tables_.append(name)
        return self

    def _check_fitted(self):
        if not self.tables_:
            raise NotFittedError("call fit() with at least one table first")

    def _run(self, sql: str, return_type: str):
        if return_type not in ("dataframe", "raw"):
            raise ValueError("Invalid return_type. Choose 'dataframe' or 'raw'.")
        out = self.spark.sql(sql)
        return out.collect() if return_type == "raw" else out

    # -- query methods (each validates intent like the reference) ----------

    def query(self, sql: str, return_type: str = "dataframe"):
        self._check_fitted()
        return self._run(sql, return_type)

    def aggregate(self, sql: str, return_type: str = "dataframe"):
        self._check_fitted()
        if not self._AGG_RE.search(sql):
            raise ValueError("The query does not appear to be an aggregation query.")
        return self._run(sql, return_type)

    def joinTables(self, sql: str, return_type: str = "dataframe"):
        self._check_fitted()
        if not self._JOIN_RE.search(sql):
            raise ValueError("The query does not appear to be a join query.")
        return self._run(sql, return_type)

    def subqueriesAndTempTables(self, sqls: str | list[str], return_type: str = "dataframe"):
        self._check_fitted()
        sql_list = [sqls] if isinstance(sqls, str) else list(sqls)
        for s in sql_list:
            if not self._SUBQ_RE.search(s):
                raise ValueError(
                    "One or more queries do not appear to be subquery/CTE queries."
                )
        results = [self._run(s, return_type) for s in sql_list]
        return results[0] if len(results) == 1 else results

    def windowFunctions(self, sql: str, return_type: str = "dataframe"):
        self._check_fitted()
        if not self._WINDOW_RE.search(sql):
            raise ValueError(
                "The query does not appear to contain SQL window functions."
            )
        return self._run(sql, return_type)

    # -- DML as view rewrites (reference gofast/query.py:488 manipulate,
    # :590 transform, :538 commit) ----------------------------------------
    #
    # Spark temp views are immutable, so INSERT / UPDATE / DELETE compile
    # to a SELECT rewrite of the view (analysis inlines the current view
    # plan eagerly, so re-registering under the same name is safe —
    # no self-reference).  ``auto_commit=False`` stages rewrites; commit()
    # applies them in order — the reference's transaction semantics.
    # Each rewrite deepens the logical plan; long transactions should
    # materialize (e.g. ``gofast_spark.session.pin(spark.table(t), t)``)
    # as a real warehouse writer would.

    _INSERT_RE = re.compile(
        r"^\s*INSERT\s+INTO\s+(\w+)\s*(?:\(([^)]*)\))?\s*(VALUES\s*.+|SELECT\b.+)$",
        re.IGNORECASE | re.DOTALL,
    )
    _DELETE_RE = re.compile(
        r"^\s*DELETE\s+FROM\s+(\w+)\s*(?:WHERE\s+(.+))?$",
        re.IGNORECASE | re.DOTALL,
    )
    _UPDATE_RE = re.compile(
        # the SET/WHERE split is NOT done here: a regex would match a
        # " WHERE " inside a string literal (SET note = 'a WHERE b');
        # _split_on_where scans quote-aware instead
        r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+)$",
        re.IGNORECASE | re.DOTALL,
    )

    @staticmethod
    def _split_on_where(s: str) -> "tuple[str, str | None]":
        """Split at the first top-level ``WHERE`` keyword — outside
        single/double quotes and parentheses — returning
        ``(head, condition-or-None)``."""
        depth, quote, i, n = 0, None, 0, len(s)
        low = s.lower()
        while i < n:
            ch = s[i]
            if quote:
                if ch == "\\":
                    i += 2  # backslash-escaped char inside the literal
                    continue
                if ch == quote:
                    if i + 1 < n and s[i + 1] == quote:
                        i += 2  # doubled quote ('' / "") stays inside
                        continue
                    quote = None
                i += 1
                continue
            if ch in ("'", '"'):
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif (
                depth == 0
                and low.startswith("where", i)
                and i > 0
                and s[i - 1].isspace()
                and (i + 5 >= n or not (s[i + 5].isalnum() or s[i + 5] == "_"))
            ):
                return s[:i].rstrip(), s[i + 5 :].strip()
            i += 1
        return s, None

    @staticmethod
    def _split_top_level(s: str) -> list[str]:
        """Split on commas not nested in parentheses/quotes."""
        parts, depth, cur, quote = [], 0, [], None
        for ch in s:
            if quote:
                cur.append(ch)
                if ch == quote:
                    quote = None
                continue
            if ch in ("'", '"'):
                quote = ch
                cur.append(ch)
            elif ch == "(":
                depth += 1
                cur.append(ch)
            elif ch == ")":
                depth -= 1
                cur.append(ch)
            elif ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        if cur:
            parts.append("".join(cur).strip())
        return parts

    def _compile_dml(self, query: str):
        """Compile one DML statement to (view_name, replacement_df)."""
        m = self._INSERT_RE.match(query)
        if m:
            t, cols, body = m.group(1), m.group(2), m.group(3)
            if body.upper().lstrip().startswith("VALUES"):
                vals = body.lstrip()[len("VALUES"):].strip()
                col_list = (
                    [c.strip() for c in cols.split(",")]
                    if cols
                    else self.spark.table(t).columns
                )
                new_rows = self.spark.sql(
                    f"SELECT * FROM (VALUES {vals}) AS _ins({', '.join(col_list)})"
                )
            else:
                new_rows = self.spark.sql(body)
                if cols:
                    new_rows = new_rows.toDF(
                        *[c.strip() for c in cols.split(",")]
                    )
            from pyspark.sql import functions as F

            base = self.spark.table(t)
            for c in base.columns:
                if c not in new_rows.columns:
                    new_rows = new_rows.withColumn(c, F.lit(None))
            new_rows = new_rows.select(
                *[
                    new_rows[c].cast(base.schema[c].dataType).alias(c)
                    for c in base.columns
                ]
            )
            return t, base.unionByName(new_rows)
        m = self._DELETE_RE.match(query.rstrip().rstrip(";"))
        if m:
            t, cond = m.group(1), m.group(2)
            if cond is None:
                return t, self.spark.table(t).limit(0)
            # DELETE removes rows where cond IS TRUE; NULL predicates keep
            return t, self.spark.sql(
                f"SELECT * FROM {t} WHERE NOT coalesce(({cond}), false)"
            )
        m = self._UPDATE_RE.match(query.rstrip().rstrip(";"))
        if m:
            t, rest = m.group(1), m.group(2)
            sets, cond = self._split_on_where(rest)
            assignments = {}
            for part in self._split_top_level(sets):
                col, expr = part.split("=", 1)
                assignments[col.strip()] = expr.strip()
            guard = f"coalesce(({cond}), false)" if cond else "true"
            cols = []
            for c in self.spark.table(t).columns:
                if c in assignments:
                    cols.append(
                        f"CASE WHEN {guard} THEN ({assignments[c]}) "
                        f"ELSE {c} END AS {c}"
                    )
                else:
                    cols.append(c)
            return t, self.spark.sql(f"SELECT {', '.join(cols)} FROM {t}")
        raise ValueError(
            "manipulate() understands INSERT INTO / UPDATE / DELETE FROM "
            "on fitted views; other statements go through query()."
        )

    def manipulate(
        self, query: str, auto_commit: bool = True, raise_error: bool = True
    ):
        """Execute INSERT / UPDATE / DELETE against a fitted view
        (reference :488).  With ``auto_commit=False`` the rewrite is
        staged until :meth:`commit` — multiple statements apply as one
        transaction."""
        self._check_fitted()
        if not (
            self._INSERT_RE.match(query)
            or self._DELETE_RE.match(query.rstrip().rstrip(";"))
            or self._UPDATE_RE.match(query.rstrip().rstrip(";"))
        ):
            if raise_error:
                raise ValueError(
                    "manipulate() understands INSERT INTO / UPDATE / "
                    "DELETE FROM on fitted views; other statements go "
                    "through query()."
                )
            return self
        if auto_commit:
            try:
                t, df = self._compile_dml(query)
            except Exception:
                if raise_error:
                    raise
                return self
            df.createOrReplaceTempView(t)
        else:
            # compile at commit time so each staged statement sees the
            # effects of the ones staged before it (txn semantics)
            self._staged.append(query)
        return self

    def transform(
        self, query: str, auto_commit: bool = True, raise_error: bool = True
    ):
        """Alias of :meth:`manipulate` for transformation-style DML
        (reference :590 routes both through the same executor)."""
        return self.manipulate(query, auto_commit, raise_error)

    def commit(self):
        """Apply staged manipulations in order (reference :538) — each
        statement is compiled against the views as updated by the
        statements before it."""
        for q in self._staged:
            t, df = self._compile_dml(q)
            df.createOrReplaceTempView(t)
        self._staged.clear()
        return self

    # -- procedures / integrity / diagnostics -----------------------------

    def register_procedure(self, name: str, fn):
        """Register a named procedure: a callable
        ``fn(spark, *params) -> DataFrame``.  Spark has no server-side
        stored procedures; a registered Python callable over the fitted
        views is the engine-native analog (reference :697)."""
        self._procedures[name] = fn
        return self

    def storedProcedures(
        self, procedure_name: str, params: list, return_type: str = "dataframe"
    ):
        """Execute a registered procedure (reference :697)."""
        self._check_fitted()
        if procedure_name not in self._procedures:
            raise KeyError(f"no registered procedure {procedure_name!r}")
        out = self._procedures[procedure_name](self.spark, *params)
        if return_type == "raw":
            return out.collect()
        return out

    def ensureDataIntegrity(self, query: str) -> bool:
        """Run an integrity-check query; True iff it returns zero
        violating rows (reference :753 runs integrity DML and commits —
        on immutable frames the check form is the meaningful half)."""
        self._check_fitted()
        return self.spark.sql(query).limit(1).count() == 0

    def scalabilityPerformance(self, query: str, return_type: str = "dataframe"):
        """Execute and time a query end-to-end (reference :802).  Returns
        (result, seconds); the run drains through count() so the timing
        covers the full plan, not just analysis."""
        import time

        self._check_fitted()
        t0 = time.perf_counter()
        out = self.spark.sql(query)
        out.count()
        elapsed = time.perf_counter() - t0
        return self._run(query, return_type), elapsed

    def compatibilityIntegration(self) -> dict:
        """Environment/compat report (reference :843): Spark version,
        registered tables, key session confs."""
        conf_keys = [
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
            "spark.sql.session.timeZone",
        ]
        return {
            "engine": "spark",
            "version": self.spark.version,
            "tables": list(self.tables_),
            "conf": {
                k: self.spark.conf.get(k, None) for k in conf_keys
            },
        }

    @property
    def inspect(self) -> dict:
        """{table: schema DDL} for every fitted view (reference :886)."""
        return {
            t: self.spark.table(t).schema.simpleString() for t in self.tables_
        }

