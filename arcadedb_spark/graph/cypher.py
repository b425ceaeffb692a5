"""openCypher front end (pragmatic subset) lowered to the MATCH translator.

Reference: query/opencypher/ — a full Cypher 25 engine (grammar
Cypher25Parser.g4, planner query/opencypher/planner/CypherExecutionPlanner.java:44,
cost-based optimizer CypherOptimizer.java:93).  On Spark the same queries
are join programs, so this front end parses a practical Cypher subset and
lowers it onto :func:`arcadedb_spark.graph.match.translate_match` —
Catalyst then does what CypherOptimizer's rules (IndexSelection,
FilterPushdown, ExpandInto, JoinOrder) do natively.

Supported subset:
  MATCH (a:Label {p: v})-[r:TYPE]->(b) [, pattern…]
  -[:T*min..max]->                      → variable-length (walk reachability)
  OPTIONAL MATCH …                      → left_outer joined path
  WHERE <expr over alias.prop>          → post-join filter (pushed down by
                                           Catalyst through the join)
  WITH items [WHERE …] [MATCH …]        → pipeline stages; post-WITH WHERE
                                           gives HAVING semantics; bare
                                           aliases stay bound for later
                                           MATCH segments
  RETURN [DISTINCT] expr [AS x], …      → aggregates detected per SQL rules
  ORDER BY / SKIP / LIMIT
  UNION [ALL]                           → DataFrame union (UnionStep.java:52)
  CALL algo.name(args) [YIELD …] [RETURN …] → procedure registry
  CREATE / MERGE / SET / REMOVE / DETACH DELETE → graph writes
  MERGE … ON CREATE SET … ON MATCH SET …  → conditional post-merge writes
  FOREACH (x IN list | <updates>)         → driver-side loop, x substituted
  -[r:T {k: v}]-> in CREATE/MERGE         → edge property writes; MERGE
                                            relationships are idempotent
  MATCH ()-[r:T]->() SET r.p = expr       → edge property updates (rewrite
                                            keyed by matched endpoint pairs)
Cypher-only operators: STARTS WITH, ENDS WITH, CONTAINS (substring), =~.
Not yet: FOREACH over path aliases.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

import itertools as _itools

from arcadedb_spark.session import local_df
from arcadedb_spark.sql import ast
from arcadedb_spark.sql.lexer import Token
from arcadedb_spark.sql.parser import ParseError, Parser

_suid = _itools.count()  # hidden shortest-path alias counter


class CypherParser(Parser):
    """Extends the SQL expression parser with Cypher pattern syntax."""

    def __init__(self, text: str, params: "dict | None" = None) -> None:
        from arcadedb_spark.sql.lexer import tokenize

        super().__init__(text)
        self.cypher = True
        # re-lex with the Cypher rules: `--` is an anonymous undirected
        # relationship, not a line comment
        self.tokens = tokenize(text, cypher=True)
        self._next_clause_id = 0
        # bound $parameters, needed at PARSE time only for parameter
        # property maps ((n:L $props), -[r:T $props]->) whose keys come
        # from the bound value
        self._params = params or {}

    def _expand_param_props(self) -> list:
        """`$props` in a node/rel property-map position — expand the
        bound map's entries like an inline {k: v, …} literal
        (Cypher25Parser.g4 `properties : map | parameter`)."""
        pname = self.advance().value
        if pname not in self._params:
            raise ParseError(
                f"Parameter map ${pname} is not bound (ParameterMissing)"
            )
        val = self._params[pname]
        if not isinstance(val, dict):
            raise ParseError(
                f"Parameter ${pname} must be a map for a property "
                "position (InvalidArgumentType)"
            )
        return [(k, ast.Lit(v)) for k, v in val.items()]

    # -- entry -------------------------------------------------------------
    def parse_query(self) -> list:
        """Returns one (MatchStmt, with_stages) per UNION branch."""
        self._union_all = False
        stmts = [self._parse_single()]
        if self._at_ident("FINISH"):
            # Cypher-25 FINISH: explicit no-result query terminator
            # (Cypher25Parser.g4 finishClause) — same as omitting RETURN
            self.advance()
        kinds: list[bool] = []
        while self._at_ident("UNION"):
            self.advance()
            is_all = False
            if self._at_ident("ALL"):
                self.advance()
                is_all = True
                self._union_all = True
            kinds.append(is_all)
            if len(set(kinds)) > 1:
                # openCypher: UNION and UNION ALL may not mix in one
                # query (InvalidClauseComposition, TCK Union3)
                raise ParseError(
                    "Cannot mix UNION and UNION ALL in the same query"
                )
            stmts.append(self._parse_single())
        return stmts

    def _at_ident(self, word: str) -> bool:
        t = self.cur
        return (
            (t.kind == "IDENT" and t.value.upper() == word)
            or (t.kind == "KEYWORD" and t.value == word)
        )

    def _capture_brace_block(self) -> str:
        """Consume a balanced ``{ … }`` token run and return the inner
        source text (used by CALL { … } subqueries — the block is parsed
        as its own query at lowering time)."""
        if not (self.cur.kind == "OP" and self.cur.value == "{"):
            raise ParseError(f"Expected '{{' at {self.cur!r}")
        open_tok = self.cur
        depth = 0
        j = self.i
        while j < len(self.tokens):
            t = self.tokens[j]
            if t.kind == "OP" and t.value == "{":
                depth += 1
            elif t.kind == "OP" and t.value == "}":
                depth -= 1
                if depth == 0:
                    inner = self.text[open_tok.pos + 1 : t.pos]
                    self.i = j + 1
                    return inner.strip()
            j += 1
        raise ParseError("Unbalanced '{' in CALL subquery")

    def _at_load_csv(self) -> bool:
        # LOAD CSV clause head (CypherASTBuilder.java:1003
        # visitLoadCSVClause) — LOAD alone can be an identifier
        nxt = self.peek()
        return self._at_ident("LOAD") and (
            (nxt.kind == "IDENT" and nxt.value.upper() == "CSV")
            or (nxt.kind == "KEYWORD" and nxt.value == "CSV")
        )

    def _parse_load_csv(self) -> dict:
        """``LOAD CSV [WITH HEADERS] FROM <expr> AS <var>
        [FIELDTERMINATOR '<c>']`` (LoadCSVStep.java:61; grammar
        Cypher25Parser.g4 loadCSVClause)."""
        self.advance()  # LOAD
        self.advance()  # CSV
        headers = False
        if self._at_ident("WITH"):
            self.advance()
            if not self._at_ident("HEADERS"):
                raise ParseError("Expected HEADERS after LOAD CSV WITH")
            self.advance()
            headers = True
        if not self._at_ident("FROM"):
            raise ParseError("Expected FROM in LOAD CSV")
        self.advance()
        url = self.parse_expr()
        self.expect_kw("AS")
        alias = self.ident()
        sep = ","
        if self._at_ident("FIELDTERMINATOR"):
            self.advance()
            t = self.parse_expr()
            if not isinstance(t, ast.Lit) or not isinstance(t.value, str):
                raise ParseError(
                    "FIELDTERMINATOR must be a string literal"
                )
            sep = t.value
        return {
            "url": url, "alias": alias, "headers": headers, "sep": sep,
            # the line-number window is inherently sequential (one
            # partition) — attach it only when the query text can call
            # linenumber(), so the common scan stays fully distributed
            "need_ln": "linenumber" in self.text.lower(),
        }

    def _at_insert_clause(self) -> bool:
        # Cypher-25 INSERT = CREATE synonym (OpenCypherCypher25ClausesTest
        # INSERT (n:Person {…})) — only in clause position before a '('
        return self.at_kw("INSERT") and self.peek().kind == "OP" \
            and self.peek().value == "("

    def _parse_match_segment(self) -> tuple[list, "ast.Expr | None"]:
        paths: list[ast.MatchPath] = []
        where = None
        while True:
            optional = False
            if self._at_ident("OPTIONAL"):
                self.advance()
                optional = True
                self.expect_kw("MATCH")
            elif self.at_kw("MATCH"):
                self.advance()
            else:
                break
            if (
                self.cur.kind == "IDENT"
                and self.cur.value.upper() in ("NODE", "RELATIONSHIP")
                and self.peek().kind == "OP" and self.peek().value == "("
            ):
                # Cypher-25 match mode prefix (MATCH NODE (n:…)) — the
                # default element-pattern semantics, accepted and ignored
                self.advance()
            path_mode = None
            if (
                self.cur.kind == "IDENT"
                and self.cur.value.upper() in ("TRAIL", "ACYCLIC", "WALK")
                and self.peek().kind == "OP" and self.peek().value == "("
            ):
                # Cypher-25 path mode prefix (reference ast/PathMode.java):
                # TRAIL = edge-unique (the default here), ACYCLIC adds
                # vertex uniqueness, WALK lifts uniqueness (bounded only)
                path_mode = self.advance().value.lower()
            # one MATCH clause = one clause_id across its comma-separated
            # paths (relationship isomorphism is per clause)
            cid = self._next_clause_id
            self._next_clause_id += 1
            import dataclasses as _dc

            paths.append(
                _dc.replace(self._parse_pattern(optional), clause_id=cid)
            )
            while self.eat_op(","):
                paths.append(
                    _dc.replace(self._parse_pattern(optional), clause_id=cid)
                )
            if path_mode:
                for i_, p_ in enumerate(paths):
                    if p_.clause_id != cid:
                        continue
                    if path_mode == "walk":
                        if any(
                            s.var_length and s.max_hops < 0
                            for s in p_.steps
                        ):
                            raise ParseError(
                                "MATCH WALK requires an explicit max hop "
                                "bound (unbounded walks do not terminate "
                                "— PathMode.java)"
                            )
                        paths[i_] = _dc.replace(
                            p_, path_mode="walk", rel_unique=False
                        )
                    else:
                        paths[i_] = _dc.replace(p_, path_mode=path_mode)
            if self.at_kw("WHERE"):
                self.advance()
                w = self.parse_expr()
                if optional:
                    # WHERE belongs to the OPTIONAL MATCH clause: fold it
                    # into the left-outer join so failing rows null-pad
                    # instead of dropping (TCK MatchWhere6).  Attached to
                    # the clause's last path — by then every alias of the
                    # clause is bound.
                    import dataclasses

                    paths[-1] = dataclasses.replace(paths[-1], opt_where=w)
                else:
                    where = w if where is None else ast.Bin("AND", where, w)
            # inline pattern predicates ((n WHERE …), -[r WHERE …]->)
            # fold into the clause WHERE; on OPTIONAL clauses into the
            # left-outer join condition of their own path
            import dataclasses as _dc2

            for i_, p_ in enumerate(paths):
                iw = getattr(p_, "inline_where", None)
                if iw is None:
                    continue
                if p_.optional:
                    ow = p_.opt_where
                    paths[i_] = _dc2.replace(
                        p_,
                        opt_where=iw if ow is None
                        else ast.Bin("AND", ow, iw),
                        inline_where=None,
                    )
                else:
                    where = iw if where is None else ast.Bin(
                        "AND", where, iw
                    )
                    paths[i_] = _dc2.replace(p_, inline_where=None)
        return paths, where

    def parse_call(self, consume_return: bool = True) -> dict:
        """CALL ns.name(args) [YIELD c1, c2] [RETURN … ORDER BY/SKIP/LIMIT]
        (CallStep.java:71; procedures from ProcedureRegistry)."""
        self.advance()  # CALL
        segments = [self.ident()]
        while self.at_op("."):
            self.advance()
            segments.append(self.ident())
        name = ".".join(segments)

        def _lit_arg(e):
            if isinstance(e, ast.Lit):
                return e.value
            if isinstance(e, ast.Unary) and e.op == "-" and isinstance(
                e.operand, ast.Lit
            ):
                return -e.operand.value
            if isinstance(e, ast.Chain) and len(e.parts) == 1:
                return e.parts[0]
            if isinstance(e, ast.ArrayLit):
                return [_lit_arg(x) for x in e.items]
            if isinstance(e, (ast.Var, ast.Param)):
                # $param CALL arguments resolve from the bound values
                if e.name in self._params:
                    return self._params[e.name]
                raise ParseError(
                    f"Missing parameter ${e.name} for CALL argument"
                )
            if isinstance(e, ast.MapLit):
                return {k: _lit_arg(v) for k, v in e.entries}
            raise ParseError("CALL arguments must be literals")

        args: list = []
        parens = False
        if self.at_op("("):
            parens = True
            self.advance()
            while not self.at_op(")"):
                args.append(_lit_arg(self.parse_expr()))
                self.eat_op(",")
            self.expect_op(")")

        def _yield_item() -> tuple[str, str]:
            col = self.ident()
            alias = col
            if self.at_kw("AS"):
                self.advance()
                alias = self.ident()
            return (col, alias)

        yields: list[tuple[str, str]] = []
        star = False
        if self._at_ident("YIELD"):
            self.advance()
            if self.at_op("*"):  # YIELD * — every output column
                star = True
                self.advance()
            else:
                yields.append(_yield_item())
                while self.eat_op(","):
                    yields.append(_yield_item())
        ret = None
        if consume_return and self.at_kw("RETURN"):
            self.advance()
            distinct = self.eat_kw("DISTINCT")
            items = self.parse_projection_list()
            order_by: list[ast.OrderItem] = []
            skip = limit = None
            while True:
                if self.at_kw("ORDER"):
                    self.advance()
                    self.expect_kw("BY")
                    order_by.append(self.parse_order_item())
                    while self.eat_op(","):
                        order_by.append(self.parse_order_item())
                elif self.at_kw("SKIP"):
                    self.advance()
                    skip = self.parse_expr()
                elif self.at_kw("LIMIT"):
                    self.advance()
                    limit = self.parse_expr()
                else:
                    break
            ret = {"items": items, "distinct": distinct, "order_by": order_by,
                   "skip": skip, "limit": limit}
        return {"proc": name, "args": args, "yields": yields,
                "parens": parens, "star": star, "return": ret}

    def _parse_return_spec(self) -> dict:
        """RETURN [DISTINCT] items [ORDER BY…] [SKIP…] [LIMIT…] (shared by
        read queries and RETURN-after-write)."""
        self.expect_kw("RETURN")
        distinct = self.eat_kw("DISTINCT")
        returns = self.parse_projection_list()
        names = [
            it.alias or it.text for it in returns if (it.alias or it.text)
        ]
        if len(names) != len(set(names)):
            # ColumnNameConflict (TCK Return4): duplicate output names
            dup = next(n for n in names if names.count(n) > 1)
            raise ParseError(
                f"Multiple result columns with the same name '{dup}'"
            )
        order_by: list[ast.OrderItem] = []
        skip = None
        limit = None
        while True:
            if self.at_kw("ORDER"):
                self.advance()
                self.expect_kw("BY")
                order_by.append(self.parse_order_item())
                while self.eat_op(","):
                    order_by.append(self.parse_order_item())
            elif self.at_kw("SKIP"):
                self.advance()
                skip = self.parse_expr()
            elif self.at_kw("LIMIT"):
                self.advance()
                limit = self.parse_expr()
            else:
                break
        return {"items": returns, "distinct": distinct, "order_by": order_by,
                "skip": skip, "limit": limit}

    def _parse_single(self) -> ast.MatchStmt:
        self._writes: list[dict] = []
        self._write_return = None
        paths: list = []
        where = None
        if (
            self.at_kw("CREATE", "MERGE")
            or self._at_ident("MERGE")
            or self._at_ident("FOREACH")
            or self._at_insert_clause()
        ):
            # standalone write query (no leading MATCH)
            self._parse_writes()
            self._parse_write_continuations()
            if self.at_kw("RETURN"):
                self._write_return = self._parse_return_spec()
            return (None, [])
        paths, where = self._parse_match_segment()
        # pipeline stages: (MATCH… (WITH items [WHERE] | UNWIND e AS x))*
        self._stages: list[dict] = []
        while (
            self._at_ident("WITH") or self._at_ident("UNWIND")
            or self._at_ident("CALL") or self._at_load_csv()
        ):
            if self._at_load_csv():
                self._stages.append(
                    {"paths": paths, "where": where,
                     "load_csv": self._parse_load_csv()}
                )
                paths, where = self._parse_match_segment()
                continue
            if self._at_ident("CALL"):
                scope_vars = None
                if self.peek().kind == "OP" and self.peek().value == "(":
                    # Cypher-25 variable-scope clause: CALL (a, b) { … } /
                    # CALL () { … } — sugar for the importing-WITH form
                    save_scope = self.i
                    self.advance()  # CALL
                    self.advance()  # '('
                    names: list[str] = []
                    star = False
                    if self.at_op("*"):
                        self.advance()
                        star = True
                    else:
                        while self.cur.kind == "IDENT":
                            names.append(self.ident())
                            if not self.eat_op(","):
                                break
                    if self.at_op(")") and self.peek().kind == "OP" \
                            and self.peek().value == "{":
                        self.advance()  # ')'
                        if star:
                            raise ParseError(
                                "CALL (*) { … } is not supported — list "
                                "the imported variables explicitly"
                            )
                        scope_vars = names
                    else:
                        self.i = save_scope  # not the scoped form
                if scope_vars is not None or (
                    self.peek().kind == "OP" and self.peek().value == "{"
                ):
                    # CALL { … } subquery (Cypher25Parser.g4 callClause /
                    # CallStep.java:71): capture the braced block verbatim
                    # and lower it at translation time
                    if scope_vars is None:
                        self.advance()  # CALL (scoped form already ate it)
                    sub_text = self._capture_brace_block()
                    if scope_vars:
                        # desugar to the importing-WITH spelling the
                        # lowering already understands
                        sub_text = (
                            "WITH " + ", ".join(scope_vars) + " " + sub_text
                        )
                    spliced = self._try_splice_unit_call(sub_text)
                    if spliced:
                        # unit (write-only) block: inlined as
                        # `WITH * <writes>` right here — identical
                        # per-row semantics, block-local bindings
                        # renamed so they stay out of the outer scope
                        continue
                    self._stages.append(
                        {"paths": paths, "where": where,
                         "subquery": sub_text}
                    )
                    paths, where = self._parse_match_segment()
                    continue
                # in-query CALL: the procedure frame joins the pipeline
                spec = self.parse_call(consume_return=False)
                self._stages.append(
                    {"paths": paths, "where": where, "call": spec}
                )
                paths, where = self._parse_match_segment()
                continue
            if self._at_ident("UNWIND"):
                self.advance()
                expr = self.parse_expr()
                self.expect_kw("AS")
                alias = self.ident()
                self._stages.append(
                    {"paths": paths, "where": where, "unwind": (expr, alias)}
                )
            else:
                self.advance()
                w_distinct = self.eat_kw("DISTINCT")
                items = self.parse_projection_list()
                w_order: list = []
                w_skip = w_limit = None
                while True:
                    if self.at_kw("ORDER"):
                        self.advance()
                        self.expect_kw("BY")
                        w_order.append(self.parse_order_item())
                        while self.eat_op(","):
                            w_order.append(self.parse_order_item())
                    elif self.at_kw("SKIP"):
                        self.advance()
                        w_skip = self.parse_expr()
                    elif self.at_kw("LIMIT"):
                        self.advance()
                        w_limit = self.parse_expr()
                    else:
                        break
                with_where = None
                if self.at_kw("WHERE"):
                    self.advance()
                    with_where = self.parse_expr()
                self._stages.append(
                    {"paths": paths, "where": where, "with_items": items,
                     "with_where": with_where, "with_distinct": w_distinct,
                     "with_order": w_order, "with_skip": w_skip,
                     "with_limit": w_limit}
                )
            paths, where = self._parse_match_segment()
        if not paths and not self._stages and not self.at_kw("RETURN"):
            raise ParseError("Cypher query must start with MATCH")
        if (
            self.at_kw("CREATE", "MERGE", "SET", "DELETE")
            or self._at_ident("MERGE")
            or self._at_ident("DETACH")
            or self._at_ident("REMOVE")
            or self._at_ident("FOREACH")
            or self._at_insert_clause()
        ):
            # MATCH … CREATE/SET/REMOVE/DELETE/FOREACH …
            self._match_for_write = (paths, where)
            self._write_stages = self._stages
            self._parse_writes()
            self._parse_write_continuations()
            if self.at_kw("RETURN"):
                self._write_return = self._parse_return_spec()
            return (None, [])
        if self._at_ident("FINISH"):
            # Cypher-25 FINISH on a read query: validate, run nothing,
            # yield the empty no-column result (finishClause)
            self.advance()
            self._finish = True
            return (
                ast.MatchStmt(
                    paths=tuple(paths), where=where,
                    returns=(ast.ProjItem(ast.Lit(1), "__finish"),),
                    limit=ast.Lit(0),
                ),
                self._stages,
            )
        spec = self._parse_return_spec()
        returns = spec["items"]
        # Cypher implicit grouping: when RETURN mixes aggregates and plain
        # expressions, the plain ones are the grouping keys.
        from arcadedb_spark.sql.translator import _contains_aggregate

        group_by: tuple = ()
        if any(_contains_aggregate(p.expr) for p in returns):
            group_by = tuple(
                p.expr for p in returns if not _contains_aggregate(p.expr)
            )
        # expression-position shortestPath()/allShortestPaths(): hoist
        # each FuncCall over a pattern into an OPTIONAL shortest path of
        # the clause (null when no path exists — Neo4j function form),
        # rewriting the expression to the hidden path alias
        hoisted_paths: list = []
        returns = [
            ast.ProjItem(
                self._hoist_shortest_fns(p.expr, hoisted_paths),
                p.alias, p.text,
            )
            for p in returns
        ]
        if group_by:
            group_by = tuple(
                p.expr for p in returns
                if not _contains_aggregate(p.expr)
            )
        stmt = ast.MatchStmt(
            paths=tuple(paths) + tuple(hoisted_paths),
            returns=tuple(returns),
            distinct=spec["distinct"],
            where=where,
            group_by=group_by,
            order_by=tuple(spec["order_by"]),
            skip=spec["skip"],
            limit=spec["limit"],
        )
        return (stmt, self._stages)

    def _hoist_shortest_fns(self, e, out: list):
        """Rewrite ``shortestPath(pattern)`` / ``allShortestPaths(pattern)``
        used as expressions into hidden OPTIONAL shortest paths appended
        to the clause (reference evaluates the function per row; here the
        path lowers once into the join like the MATCH-clause form)."""
        import dataclasses as _dc

        if isinstance(e, ast.FuncCall) and e.name.lower() in (
            "shortestpath", "allshortestpaths",
        ) and len(e.args) == 1 and isinstance(e.args[0], ast.PatternExpr) \
                and e.args[0].path is not None:
            alias = f"__sp_path{next(_suid)}"
            out.append(_dc.replace(
                e.args[0].path,
                path_alias=alias,
                shortest=(
                    "single" if e.name.lower() == "shortestpath" else "all"
                ),
                optional=True,
                rel_unique=True,
            ))
            return ast.Chain((alias,))
        if hasattr(e, "__dataclass_fields__"):
            if isinstance(e, (ast.PatternExpr, ast.PatternComp)):
                return e  # nested patterns keep their own lowering
            kwargs = {
                f_: self._hoist_shortest_fns(getattr(e, f_), out)
                for f_ in e.__dataclass_fields__
            }
            return type(e)(**kwargs)
        if isinstance(e, tuple):
            return tuple(self._hoist_shortest_fns(x, out) for x in e)
        return e

    def _try_splice_unit_call(self, sub_text: str) -> bool:
        """Inline a unit (write-only, non-returning) ``CALL { … }`` block
        into the token stream as ``WITH * <writes>`` (reference executes
        unit subqueries once per input row — CallStep.java:71; identical
        to the inlined clause chain).  Block-local bindings are renamed
        to hidden names so they do not leak into the outer scope; the
        importing ``WITH a, b`` prefix is dropped (WITH * carries a
        superset).  Returns False when the block is not a unit write
        block (the decorrelating read path handles it)."""
        from arcadedb_spark.sql.lexer import tokenize as _tok

        probe = CypherParser(sub_text)
        try:
            pstmts = probe.parse_query()
        except Exception:
            return False
        if not pstmts or len(pstmts) > 1 \
                or any(s is not None for s, _ in pstmts):
            return False
        if getattr(probe, "_write_return", None) is not None:
            return False  # returning write subquery — not a unit block
        # A spliced unit block must not change outer cardinality or bind
        # read aliases: only pure write clauses, optionally after ONE
        # bare importing `WITH a, b`.  A block containing MATCH / UNWIND
        # / an expression WITH parses to (None, …) too, but inlining it
        # as `WITH * …` would multiply outer rows by the block's internal
        # cardinality and leak its read aliases — those blocks go through
        # the decorrelating subquery stage path instead.
        mfw = getattr(probe, "_match_for_write", None)
        if mfw and (mfw[0] or mfw[1] is not None):
            return False
        pre_stages = getattr(probe, "_write_stages", None) or []
        if len(pre_stages) > 1:
            return False
        for st in pre_stages:
            if st.get("paths") or st.get("where") is not None:
                return False
            if st.get("unwind") or st.get("call") or st.get("subquery"):
                return False
            items = st.get("with_items")
            if (
                items is None
                or st.get("with_where") is not None
                or st.get("with_distinct")
                or st.get("with_order")
                or st.get("with_skip") is not None
                or st.get("with_limit") is not None
                or not all(
                    isinstance(it.expr, ast.Chain)
                    and len(it.expr.parts) == 1
                    and it.alias in (None, it.expr.parts[0])
                    for it in items
                )
            ):
                return False
        for blk in getattr(probe, "_write_blocks", []) or []:
            bm = blk.get("match") or ([], None)
            if bm[0] or bm[1] is not None or blk.get("unwind") \
                    or blk.get("keep") != "*" \
                    or blk.get("where_post") is not None:
                return False
        # created aliases = block-local; rename them to hidden names
        created: set[str] = set()

        def _walk_writes(writes):
            for w in writes:
                for pat in w.get("patterns", ()):
                    nodes = [pat.root] + [s.filter for s in pat.steps]
                    for nd in nodes:
                        if nd.alias:
                            created.add(nd.alias)
                    for s in pat.steps:
                        if s.edge_alias:
                            created.add(s.edge_alias)

        _walk_writes(getattr(probe, "_writes", []) or [])
        for blk in getattr(probe, "_write_blocks", []) or []:
            _walk_writes(blk.get("writes", []) or [])
        toks = [t for t in _tok(sub_text) if t.kind != "EOF"]
        # drop an importing `WITH a, b` prefix (bare names only): the
        # spliced WITH * already carries a superset, and leaving the
        # block's WITH in place would NARROW the outer scope (WITH is
        # an IDENT token — it is not in the keyword table)
        if toks and toks[0].kind in ("KEYWORD", "IDENT") \
                and toks[0].value.upper() == "WITH":
            j = 1
            ok = False
            while j < len(toks) and toks[j].kind == "IDENT":
                j += 1
                if j < len(toks) and toks[j].kind == "OP" \
                        and toks[j].value == ",":
                    j += 1
                    continue
                ok = True
                break
            if ok:
                imports = {
                    t.value for t in toks[1:j] if t.kind == "IDENT"
                }
                created -= imports
                toks = toks[j:]
        uid = next(_suid)
        pos = self.cur.pos
        out = [Token("KEYWORD", "WITH", pos), Token("OP", "*", pos)]
        for k, t in enumerate(toks):
            prev_op = toks[k - 1] if k else None
            nxt_op = toks[k + 1] if k + 1 < len(toks) else None
            is_var_ref = (
                t.kind == "IDENT" and t.value in created
                # not a property access (n.x) nor a map key ({x: 1}) —
                # those are property NAMES, not variable references
                and not (prev_op is not None and prev_op.kind == "OP"
                         and prev_op.value == ".")
                and not (nxt_op is not None and nxt_op.kind == "OP"
                         and nxt_op.value == ":")
            )
            if is_var_ref:
                out.append(Token("IDENT", f"__call{uid}_{t.value}", t.pos))
            else:
                out.append(t)
        self.tokens[self.i:self.i] = out
        return True

    def _parse_write_continuations(self) -> None:
        """``… write clauses WITH <proj> [MATCH …] write clauses …`` —
        Cypher clause interleaving after a write (TCK clauses/create
        Create3).  Each WITH opens a new block executed sequentially by
        _execute_writes; projections are restricted to alias passthrough
        (``*`` or ``a [AS b]`` lists) — expression projections after
        writes are out of scope (documented)."""
        self._write_blocks: list[dict] = []
        while self._at_ident("WITH") or self.at_kw("UNWIND") or self._at_ident("UNWIND"):
            if self.at_kw("UNWIND") or self._at_ident("UNWIND"):
                # UNWIND after a write (TCK Create3): pass everything
                # through and explode the list into a new binding
                self.advance()
                u_expr = self.parse_expr()
                self.expect_kw("AS")
                u_alias = self.ident()
                outer = self._writes
                self._writes = []
                self._parse_writes()
                blk_writes, self._writes = self._writes, outer
                self._write_blocks.append(
                    {"keep": "*", "where_post": None,
                     "match": ([], None), "writes": blk_writes,
                     "unwind": (u_expr, u_alias)}
                )
                continue
            self.advance()
            keep: "str | list" = []
            if self.at_op("*"):
                self.advance()
                keep = "*"
            else:
                keep = self.parse_projection_list()
            where_post = None
            if self.at_kw("WHERE"):
                self.advance()
                where_post = self.parse_expr()
            m_paths, m_where = self._parse_match_segment()
            outer = self._writes
            self._writes = []
            self._parse_writes()
            blk_writes, self._writes = self._writes, outer
            self._write_blocks.append(
                {"keep": keep, "where_post": where_post,
                 "match": (m_paths, m_where), "writes": blk_writes}
            )

    def _parse_set_list(self) -> list:
        """Comma list of ``alias.prop = expr`` | ``alias += {map}`` |
        ``alias = {map}`` (after SET / ON CREATE SET / ON MATCH SET).
        Map forms expand to per-key assignments (SetStep semantics);
        ``=`` additionally emits an ``@replace_keys`` marker so the
        executor nulls properties absent from the map (TCK Set4)."""
        assignments = []  # (alias, prop, expr)
        while True:
            chain = self.parse_postfix()
            if (
                isinstance(chain, ast.LabelPred)
                and isinstance(chain.base, ast.Chain)
                and len(chain.base.parts) == 1
            ):
                # SET n:Label — label assignment
                for lbl in chain.labels:
                    assignments.append(
                        (chain.base.parts[0], "@set_label", ast.Lit(lbl))
                    )
                if not self.eat_op(","):
                    break
                continue
            if isinstance(chain, ast.Chain) and len(chain.parts) == 1:
                # SET n += {…} / SET n = {…}  (+= lexes as '+' '=')
                merge_only = False
                if self.at_op("+") and self.peek().value == "=":
                    self.advance()
                    self.advance()
                    merge_only = True
                elif self.at_op("="):
                    self.advance()
                else:
                    raise ParseError("SET expects alias.prop = expr")
                m = self.parse_expr()
                if isinstance(m, ast.MapLit):
                    for k, v in m.entries:
                        assignments.append((chain.parts[0], k, v))
                    if not merge_only:
                        # SET n = {…} replaces: properties absent from the
                        # map are nulled out (TCK Set4 [2]/[4])
                        assignments.append((
                            chain.parts[0], "@replace_keys",
                            ast.Lit(tuple(k for k, _ in m.entries)),
                        ))
                else:
                    # SET n = m / SET n += m where m is an entity or map
                    # expression — property copy (TCK Merge6 [6], Set4):
                    # expanded to per-key assignments at execution time
                    assignments.append((
                        chain.parts[0],
                        "@copy_entity_merge" if merge_only
                        else "@copy_entity",
                        m,
                    ))
            elif isinstance(chain, ast.Chain) and len(chain.parts) == 2:
                self.expect_op("=")
                assignments.append(
                    (chain.parts[0], chain.parts[1], self.parse_expr())
                )
            elif (
                isinstance(chain, ast.Index)
                and isinstance(chain.base, ast.Chain)
                and len(chain.base.parts) == 1
            ):
                # SET d[key] = v — Cypher-25 dynamic property (reference
                # dynamic-property SET); the key must resolve to a
                # constant string at plan time
                self.expect_op("=")
                key = _const_string_key(chain.index)
                assignments.append(
                    (chain.base.parts[0], key, self.parse_expr())
                )
            else:
                raise ParseError("SET expects alias.prop = expr")
            if not self.eat_op(","):
                break
        return assignments

    def _parse_writes(self) -> None:
        while (
            self.at_kw("CREATE", "MERGE", "SET", "DELETE")
            or self._at_ident("MERGE")
            or self._at_ident("DETACH")
            or self._at_ident("REMOVE")
            or self._at_ident("FOREACH")
            or self._at_insert_clause()
        ):
            if self.at_kw("SET"):
                self.advance()
                self._writes.append(
                    {"kind": "set", "assignments": self._parse_set_list()}
                )
                continue
            if self._at_ident("FOREACH"):
                # FOREACH (x IN list | <writes>) — ForeachStep.java:53
                self.advance()
                self.expect_op("(")
                var = self.ident()
                if not self._at_ident("IN"):
                    raise ParseError("FOREACH expects 'x IN list'")
                self.advance()
                lst = self.parse_expr()
                if not self.at_op("|"):
                    raise ParseError("FOREACH expects '|' before its updates")
                self.advance()
                outer = self._writes
                self._writes = []
                self._parse_writes()
                inner, self._writes = self._writes, outer
                if not inner:
                    raise ParseError("FOREACH body must contain update clauses")
                self.expect_op(")")
                self._writes.append(
                    {"kind": "foreach", "var": var, "list": lst, "body": inner}
                )
                continue
            if self._at_ident("REMOVE"):
                # REMOVE a.prop — null the property (RemoveStep.java:53)
                self.advance()
                assignments = []
                while True:
                    chain = self.parse_postfix()
                    if (
                        isinstance(chain, ast.LabelPred)
                        and isinstance(chain.base, ast.Chain)
                        and len(chain.base.parts) == 1
                    ):
                        # REMOVE n:Label — label removal
                        for lbl in chain.labels:
                            assignments.append(
                                (chain.base.parts[0], "@remove_label",
                                 ast.Lit(lbl))
                            )
                    elif isinstance(chain, ast.Chain) and len(chain.parts) == 2:
                        assignments.append(
                            (chain.parts[0], chain.parts[1], ast.Lit(None))
                        )
                    elif (
                        isinstance(chain, ast.Index)
                        and isinstance(chain.base, ast.Chain)
                        and len(chain.base.parts) == 1
                    ):
                        # REMOVE d[key] — dynamic property removal
                        assignments.append((
                            chain.base.parts[0],
                            _const_string_key(chain.index),
                            ast.Lit(None),
                        ))
                    else:
                        raise ParseError("REMOVE expects alias.prop")
                    if not self.eat_op(","):
                        break
                self._writes.append({"kind": "set", "assignments": assignments})
                continue
            if self._at_ident("MERGE") or self.at_kw("MERGE"):
                self.advance()
                patterns = [self._parse_pattern(False)]
                while self.eat_op(","):
                    patterns.append(self._parse_pattern(False))
                if any(p.inline_where is not None for p in patterns):
                    raise ParseError(
                        "MERGE patterns cannot carry inline WHERE"
                    )
                on_create: list = []
                on_match: list = []
                # ON CREATE SET … / ON MATCH SET … (MergeStep.java:73)
                while self._at_ident("ON"):
                    self.advance()
                    if self._at_ident("CREATE"):
                        self.advance()
                        self.expect_kw("SET")
                        on_create.extend(self._parse_set_list())
                    elif self._at_ident("MATCH"):
                        self.advance()
                        self.expect_kw("SET")
                        on_match.extend(self._parse_set_list())
                    else:
                        raise ParseError("Expected ON CREATE SET or ON MATCH SET")
                self._writes.append(
                    {
                        "kind": "merge",
                        "patterns": patterns,
                        "on_create": on_create,
                        "on_match": on_match,
                    }
                )
                continue
            if self._at_ident("DETACH") or self.at_kw("DELETE"):
                detach = False
                if self._at_ident("DETACH"):
                    detach = True
                    self.advance()
                self.expect_kw("DELETE")

                def _del_target():
                    # bare alias (fast path) or any expression resolving
                    # to entities — list/map element deletes (TCK Delete5)
                    e = self.parse_expr()
                    if isinstance(e, ast.Chain) and len(e.parts) == 1:
                        return e.parts[0]
                    return e

                targets = [_del_target()]
                while self.eat_op(","):
                    targets.append(_del_target())
                self._writes.append(
                    {"kind": "delete", "targets": targets, "detach": detach}
                )
                continue
            if self._at_insert_clause():
                self.advance()  # INSERT — Cypher-25 CREATE synonym
            else:
                self.expect_kw("CREATE")
            patterns = [self._parse_pattern(False)]
            while self.eat_op(","):
                patterns.append(self._parse_pattern(False))
            if any(p.inline_where is not None for p in patterns):
                raise ParseError("CREATE patterns cannot carry inline WHERE")
            self._writes.append({"kind": "create", "patterns": patterns})

    # -- patterns ----------------------------------------------------------
    @property
    def _inline_wheres(self) -> list:
        if not hasattr(self, "_iw_stack"):
            self._iw_stack = [[]]
        return self._iw_stack[-1]

    def _parse_pattern(self, optional: bool) -> ast.MatchPath:
        # scope the inline-WHERE accumulator per pattern: predicates
        # inside an inline WHERE may themselves contain patterns
        if not hasattr(self, "_iw_stack"):
            self._iw_stack = [[]]
        self._iw_stack.append([])
        try:
            path = self._parse_pattern_inner(optional)
        finally:
            collected = self._iw_stack.pop()
        if collected:
            iw = collected[0]
            for c in collected[1:]:
                iw = ast.Bin("AND", iw, c)
            import dataclasses as _dc

            path = _dc.replace(path, inline_where=iw)
        return path

    def _parse_pattern_inner(self, optional: bool) -> ast.MatchPath:
        path_alias = None
        if (
            self.cur.kind == "IDENT"
            and self.peek().kind == "OP"
            and self.peek().value == "="
        ):
            path_alias = self.ident()
            self.advance()  # '='
        shortest = None
        if self.cur.kind == "IDENT" and self.cur.value.lower() in (
            "shortestpath", "allshortestpaths",
        ) and self.peek().kind == "OP" and self.peek().value == "(":
            # MATCH p = shortestPath((a)-[:T*..n]->(b)) (reference
            # CypherShortestPathEdgeFilterTest; lowered as the bounded
            # var-length expansion + a per-endpoint-pair min-hop window)
            shortest = (
                "single" if self.advance().value.lower() == "shortestpath"
                else "all"
            )
            self.advance()  # '('
        steps: list[ast.MatchStep] = []
        if self._at_qpp():
            # leading parenthesized quantified path pattern:
            # ((a)-[:R]->(b))+ — the inner start node is the leading
            # boundary (CypherASTBuilder.java:1694 absorbParenthesizedPath)
            root, step = self._parse_qpp()
            if self.at_op("(") and not self._at_qpp():
                step = self._absorb_boundary(step, self._parse_node())
            steps.append(step)
        else:
            root = self._parse_node()
        while self.at_op("-", "<") or self._at_qpp():
            if self._at_qpp():
                # mid-chain QPP: the previous outer node is the leading
                # boundary; the inner end node trails unless an outer
                # node follows (reference nextIsOuterNode rule)
                _ir, step = self._parse_qpp()
                if self.at_op("(") and not self._at_qpp():
                    step = self._absorb_boundary(step, self._parse_node())
                steps.append(step)
                continue
            (direction, etypes, min_h, max_h, ealias, eprops,
             var_len) = self._parse_rel()
            q = self._parse_rel_quantifier_opt()
            if q is not None:
                # GQL relationship quantifier -[:R]->{m,n} / + / *
                # (Cypher25Parser.g4 quantifier;
                # CypherASTBuilder.java:1781 applyQuantifier)
                min_h, max_h = q
                var_len = not (min_h == 1 and max_h == 1)
            node = self._parse_node()
            method = {"out": "out", "in": "in", "both": "both"}[direction]
            steps.append(
                ast.MatchStep(
                    method=method, edge_types=etypes, filter=node,
                    min_hops=min_h, max_hops=max_h,
                    edge_alias=ealias, edge_props=eprops,
                    var_length=var_len,
                )
            )
        if shortest is not None:
            self.expect_op(")")
            if path_alias is None:
                # the min-hop filter reads the path struct; synthesize a
                # hidden alias (stripped from results like every __ col)
                path_alias = f"__sp_path{next(_suid)}"
        return ast.MatchPath(
            root=root, steps=tuple(steps), optional=optional,
            path_alias=path_alias, rel_unique=True, shortest=shortest,
        )

    def _at_qpp(self) -> bool:
        # parenthesized quantified path pattern head: '(' '(' — a node
        # pattern never starts with a nested '(' (Cypher25Parser.g4
        # parenthesizedPath vs nodePattern)
        return (
            self.cur.kind == "OP" and self.cur.value == "("
            and self.peek().kind == "OP" and self.peek().value == "("
        )

    def _parse_quantifier_body(self) -> "tuple[int, int] | None":
        """``{n}`` / ``{m,n}`` / ``{m,}`` / ``{,n}`` / ``+`` / ``*``
        (Cypher25Parser.g4:376 quantifier) → (min, max) with -1 =
        unbounded; None when the tokens are not a quantifier (position
        restored)."""
        if self.at_op("+"):
            self.advance()
            return (1, -1)
        if self.at_op("*"):
            self.advance()
            return (0, -1)
        if self.at_op("{"):
            save = self.i
            self.advance()
            lo = hi = None
            comma = False
            if self.cur.kind == "INT":
                lo = int(self.advance().value)
            if self.at_op(","):
                comma = True
                self.advance()
                if self.cur.kind == "INT":
                    hi = int(self.advance().value)
            if not self.at_op("}") or (lo is None and not comma):
                self.i = save
                return None
            self.advance()
            if not comma:
                return (lo, lo)
            return (lo if lo is not None else 0,
                    hi if hi is not None else -1)
        return None

    def _parse_rel_quantifier_opt(self) -> "tuple[int, int] | None":
        """Relationship quantifier — only when a node pattern follows
        (grammar: relationshipPattern quantifier? nodePattern), so an
        expression-position ``*``/``+`` after a pattern stays arithmetic."""
        save = self.i
        q = self._parse_quantifier_body()
        if q is None:
            return None
        if not (self.cur.kind == "OP" and self.cur.value == "("):
            self.i = save
            return None
        return q

    @staticmethod
    def _absorb_boundary(step: "ast.MatchStep", outer) -> "ast.MatchStep":
        """An outer boundary node following a QPP binds to the pattern's
        end node.  A filtered inner end node must not be silently
        DROPPED: 1..1 patterns conjoin both filters (the nodes are the
        same); var-length patterns with a filtered inner end node are a
        typed Phase-A rejection (per-iteration inner-node filters are
        not enforced by the lowering)."""
        import dataclasses as _dc

        inner = step.filter
        if inner is None or (
            not inner.type_name and not inner.props and inner.where is None
        ):
            return _dc.replace(step, filter=outer)
        if step.var_length:
            raise ParseError(
                "FeatureNotImplemented: a labelled/filtered inner end "
                "node followed by an outer boundary node in a quantified "
                "path pattern is not yet supported"
            )
        tn = inner.type_name or outer.type_name
        if inner.type_name and outer.type_name \
                and inner.type_name.lower() != outer.type_name.lower():
            tn = f"{inner.type_name}:{outer.type_name}"
        where = outer.where
        if inner.where is not None:
            where = inner.where if where is None else ast.Bin(
                "AND", inner.where, where
            )
        return _dc.replace(step, filter=_dc.replace(
            outer,
            type_name=tn,
            props=tuple(inner.props or ()) + tuple(outer.props or ()),
            where=where,
            alias=outer.alias or inner.alias,
        ))

    def _parse_qpp(self) -> "tuple[ast.MatchFilter, ast.MatchStep]":
        """Parenthesized quantified path pattern ``((a)-[:R]->(b)){m,n}``
        (Cypher25Parser.g4:419 parenthesizedPath;
        CypherASTBuilder.java:1694 absorbParenthesizedPath Phase A):
        single-relationship inner patterns lower onto the var-length
        machinery; returns (inner start node, lowered step whose filter
        is the inner end node)."""
        import dataclasses as _dc

        self.advance()  # outer '('
        inner = self._parse_pattern_inner(False)
        if self.at_kw("WHERE"):
            raise ParseError(
                "FeatureNotImplemented: WHERE inside a quantified path "
                "pattern is not yet supported"
            )
        self.expect_op(")")
        q = self._parse_quantifier_body()
        if len(inner.steps) != 1:
            raise ParseError(
                "FeatureNotImplemented: only single-relationship inner "
                "patterns are supported in quantified path patterns"
            )
        if q is not None:
            mn, mx = q
            if mx == 0:
                raise ParseError(
                    "InvalidSyntax: quantifier upper bound must be "
                    "greater than zero in quantified path pattern"
                )
            if mx != -1 and mn > mx:
                raise ParseError(
                    "InvalidSyntax: quantifier lower bound exceeds upper "
                    "bound in quantified path pattern"
                )
        else:
            mn, mx = 1, 1  # absent quantifier: 1..1 collapses to a triplet
        s = inner.steps[0]
        step = _dc.replace(
            s, min_hops=mn, max_hops=mx,
            var_length=not (mn == 1 and mx == 1),
        )
        return inner.root, step

    def _parse_node(self) -> ast.MatchFilter:
        self.expect_op("(")
        alias = None
        type_name = None
        where = None
        # NOTE: ':Label' lexes as a single PARAM token (the SQL lexer's
        # ':name' input-parameter rule) — both spellings are handled.
        if self.cur.kind in ("IDENT", "KEYWORD") and not self.at_op(")"):
            # KEYWORD: reserved words are valid Cypher variables in
            # pattern positions ((like), -[like]- — TCK Return4 [11])
            alias = self.ident()
        if self.cur.kind == "PARAM":
            type_name = self.advance().value
        elif self.at_op(":"):
            self.advance()
            type_name = self.ident()
        # additional labels (n:A:B) — colon-joined into one label-set key;
        # GraphModel.vertices() applies superset matching
        while self.cur.kind == "PARAM":
            type_name = f"{type_name}:{self.advance().value}"
        # label disjunction (n:A|B[|C]) — pipe-joined alternatives
        # (Cypher-25 label expressions; reference
        # CypherLabelDisjunctionTest.java — issue #4211)
        while type_name is not None and self.at_op("|"):
            self.advance()
            alt = self.ident()
            while self.cur.kind == "PARAM":  # (n:A|B:C) conjunction alt
                alt = f"{alt}:{self.advance().value}"
            type_name = f"{type_name}|{alt}"
        props: list[tuple] = []
        braced = False
        if self.at_op("{"):
            # inline property map {k: v, …} → equality conjunction;
            # literal pairs also retained for CREATE/MERGE
            braced = True
            self.advance()
            conds = []
            while not self.at_op("}"):
                key = self.ident()
                if self.cur.kind == "PARAM":
                    # colon-fused value: {status:active} — keyword
                    # literals ({done:true}) fuse too and must stay
                    # literals, not variable refs
                    val = _fused_prop_value(self.advance().value)
                else:
                    self.expect_op(":")
                    val = self.parse_expr()
                conds.append(ast.Bin("=", ast.Chain((key,)), val))
                props.append((key, val))
                self.eat_op(",")
            self.expect_op("}")
            for c in conds:
                where = c if where is None else ast.Bin("AND", where, c)
        elif self.cur.kind == "VAR":
            # (n:L $props) — parameter property map
            braced = True
            for k, v in self._expand_param_props():
                props.append((k, v))
                c = ast.Bin("=", ast.Chain((k,)), v)
                where = c if where is None else ast.Bin("AND", where, c)
        if self.at_kw("WHERE"):
            # (n:P WHERE pred) inline node predicate (Cypher-25;
            # reference CypherInlinePatternWhereTest) — folded into the
            # clause WHERE by _parse_pattern (handles correlation and
            # OPTIONAL semantics for free)
            self.advance()
            self._inline_wheres.append(self.parse_expr())
        self.expect_op(")")
        return ast.MatchFilter(
            type_name=type_name, alias=alias, where=where,
            props=tuple(props), props_braced=braced,
        )

    def _parse_rel(self) -> tuple:
        # -[:T]-> | <-[:T]- | -[:T]- | --> | <-- | --
        direction = "both"
        if self.at_op("<"):
            self.advance()
            self.expect_op("-")
            direction = "in"
        else:
            self.expect_op("-")
        etypes: list[str] = []
        ealias = None
        eprops: list[tuple] = []
        if self.at_op("["):
            self.advance()
            if self.cur.kind in ("IDENT", "KEYWORD"):
                ealias = self.ident()  # relationship variable (KEYWORD:
                # reserved words are valid variables here — [like])
            if self.cur.kind == "PARAM":  # ':TYPE' lexes as one PARAM token
                etypes.append(self.advance().value)
            elif self.at_op(":"):
                self.advance()
                etypes.append(self.ident())
            while self.at_op("|"):
                self.advance()
                if self.cur.kind == "PARAM":
                    etypes.append(self.advance().value)
                else:
                    self.eat_op(":")
                    etypes.append(self.ident())
            min_h = max_h = 1
            var_len = False
            if self.at_op("*"):
                var_len = True
                # variable-length: *, *n, *n..m, *..m — max_h -1 means
                # unbounded (path enumeration is relationship-unique, so
                # expansion terminates when the frontier drains)
                self.advance()
                min_h, max_h = 1, -1
                if self.cur.kind == "INT":
                    min_h = int(self.advance().value)
                    max_h = min_h
                if self.at_op(".."):
                    self.advance()
                    max_h = -1
                    if self.cur.kind == "INT":
                        max_h = int(self.advance().value)
            if self.at_op("{"):
                # inline relationship property map {k: v, …} — kept for
                # CREATE/MERGE edge writes (CreateStep.java:60)
                self.advance()
                while not self.at_op("}"):
                    key = self.ident()
                    if self.cur.kind == "PARAM":
                        val = _fused_prop_value(self.advance().value)
                    else:
                        self.expect_op(":")
                        val = self.parse_expr()
                    eprops.append((key, val))
                    self.eat_op(",")
                self.expect_op("}")
            elif self.cur.kind == "VAR":
                # -[r:T $props]-> — parameter property map
                eprops.extend(self._expand_param_props())
            if self.at_kw("WHERE"):
                # -[r:T WHERE pred]-> inline relationship predicate
                # (Cypher-25; reference CypherInlinePatternWhereTest) —
                # folded into the clause WHERE by _parse_pattern
                self.advance()
                pred = self.parse_expr()
                if var_len:
                    # -[r:T*1..n WHERE pred]-> applies the predicate to
                    # EVERY traversed relationship (reference
                    # VariableLengthPathTraverser edge filters): desugar
                    # to all(e IN r WHERE pred[r := e]) over the bound
                    # relationship list
                    if ealias is None:
                        ealias = f"__vlr{next(_suid)}"
                    lam = f"__ie{next(_suid)}"
                    pred = _rename_var(pred, ealias, lam)
                    pred = ast.Quantifier(
                        "all", lam, ast.Chain((ealias,)), pred
                    )
                self._inline_wheres.append(pred)
            self.expect_op("]")
            self.expect_op("-")
            if self.at_op(">"):
                self.advance()
                # <-[:T]-> is the undirected arrow pair (TCK Match3):
                # both directions, not an error
                direction = "both" if direction == "in" else "out"
            return (direction, tuple(etypes), min_h, max_h,
                    ealias, tuple(eprops), var_len)
        self.expect_op("-")
        if self.at_op(">"):
            self.advance()
            direction = "both" if direction == "in" else "out"
        return direction, tuple(etypes), 1, 1, None, (), False


def _fused_prop_value(word: str) -> "ast.Expr":
    """Value of a colon-fused property pair ({k:v} lexes ':v' as one
    PARAM token): boolean/null keywords are literals, anything else a
    bare identifier reference."""
    low = word.lower()
    if low == "true":
        return ast.Lit(True)
    if low == "false":
        return ast.Lit(False)
    if low == "null":
        return ast.Lit(None)
    return ast.Chain((word,))


def _mentions_frame_col(e, cols) -> bool:
    """True when the expression references any bound frame column."""
    colset = set(cols)
    if isinstance(e, ast.Chain):
        return bool(e.parts) and e.parts[0] in colset
    if hasattr(e, "__dataclass_fields__"):
        return any(
            _mentions_frame_col(getattr(e, f_), colset)
            for f_ in e.__dataclass_fields__
        )
    if isinstance(e, (tuple, list)):
        return any(_mentions_frame_col(x, colset) for x in e)
    return False


def _const_string_key(e) -> str:
    """Resolve a dynamic-property key expression to a constant string at
    plan time (SET d[k] = v / REMOVE d[k]): string literals and literal
    string concatenations fold; anything frame-dependent is rejected."""
    if isinstance(e, ast.Lit) and isinstance(e.value, str):
        return e.value
    if isinstance(e, ast.Bin) and e.op == "+":
        return _const_string_key(e.left) + _const_string_key(e.right)
    if isinstance(e, ast.FuncCall) and e.name.lower() == "tostring" \
            and len(e.args) == 1 and isinstance(e.args[0], ast.Lit):
        return str(e.args[0].value)
    raise ParseError(
        "dynamic property keys must be constant strings at plan time "
        "(SET d[k]: per-row keys would make the write schema data-"
        "dependent)"
    )


def _rename_var(e, old: str, new: str):
    """Rewrite references to bound variable ``old`` as ``new`` inside an
    expression tree (dataclass-pure; Chain heads only — property names
    and map keys are untouched)."""
    if isinstance(e, ast.Chain):
        if e.parts and e.parts[0] == old:
            return ast.Chain((new,) + e.parts[1:])
        return e
    if hasattr(e, "__dataclass_fields__"):
        kwargs = {
            f_: _rename_var(getattr(e, f_), old, new)
            for f_ in e.__dataclass_fields__
        }
        return type(e)(**kwargs)
    if isinstance(e, tuple):
        return tuple(_rename_var(x, old, new) for x in e)
    if isinstance(e, list):
        return [_rename_var(x, old, new) for x in e]
    return e


def _bare_alias(item: ast.ProjItem) -> str | None:
    """WITH item that re-binds a pattern alias unchanged (keeps its struct)."""
    e = item.expr
    if isinstance(e, ast.Chain) and len(e.parts) == 1:
        if item.alias is None or item.alias == e.parts[0]:
            return e.parts[0]
    return None


def _validate_bindings(stage_specs: list[dict], final_paths: tuple) -> None:
    """openCypher variable-binding rules (TCK clauses/match error
    scenarios): a name is one of node / relationship / path — kind
    conflicts are errors; a relationship variable may appear only once
    per pattern (relationship isomorphism would be vacuous otherwise);
    a path variable can never be rebound.  Node aliases may repeat
    freely (that is the join).  WITH is a scope boundary: a projection
    keeps only its projected names (rename-aware), so a path/rel
    variable dropped by WITH may legally be rebound later."""
    from arcadedb_spark.sql.translator import TranslateError

    kinds: dict[str, str] = {}

    def bind(name: str | None, kind: str) -> None:
        if not name:
            return
        prev = kinds.get(name)
        if prev is not None and (prev != kind or "path" in (prev, kind)):
            raise TranslateError(
                f"Variable '{name}' already bound as a {prev}"
            )
        kinds[name] = kind

    def check_paths(paths) -> None:
        for p in paths:
            bind(p.path_alias, "path")
            bind(p.root.alias, "node")
            # duplicate rel vars are checked per chain only: consecutive
            # MATCH clauses share one paths list here, and re-using a
            # bound relationship in a LATER clause is legal Cypher
            path_rels: set[str] = set()
            for st in p.steps:
                bind(st.filter.alias, "node")
                if st.edge_alias:
                    bind(st.edge_alias, "rel")
                    if st.edge_alias in path_rels:
                        raise TranslateError(
                            f"Relationship variable '{st.edge_alias}' used "
                            "twice in one pattern"
                        )
                    path_rels.add(st.edge_alias)

    for s in stage_specs:
        check_paths(s.get("paths") or ())
        items = s.get("with_items")
        if items is not None:
            # WITH scope boundary: prune to the projected names, carrying
            # the kind through bare passes and renames (WITH a AS b)
            kept: dict[str, str] = {}
            for it in items:
                src = None
                if isinstance(it.expr, ast.Chain) and len(it.expr.parts) == 1:
                    src = it.expr.parts[0]
                target = it.alias or src
                if target and src and src in kinds:
                    kept[target] = kinds[src]
            kinds = kept
    check_paths(final_paths)


def _translate_pipeline(db, stmt: ast.MatchStmt, stages: list, params: dict) -> DataFrame:
    """Lower a WITH pipeline: each stage joins its patterns over the
    previous frame, projects the WITH items (implicit grouping like
    RETURN), and filters (Cypher's post-WITH WHERE ≈ HAVING)."""
    from arcadedb_spark.sql.translator import _contains_aggregate
    from arcadedb_spark.graph.match import (
        combine_paths, project_stage, translate_match,
    )

    _validate_bindings(
        [s for s in stages if isinstance(s, dict)], stmt.paths or ()
    )
    if not stages:
        return translate_match(db, stmt, params)
    from arcadedb_spark.sql import temporal as _T
    from arcadedb_spark.sql.temporal_eval import (
        pop_env, push_env, static_value,
    )

    env: dict = {}
    push_env(env)
    try:
        return _run_pipeline_stages(db, stmt, stages, params, env,
                                    _T, static_value)
    finally:
        pop_env()


def _run_pipeline_stages(db, stmt, stages, params, env, _T, static_value):
    from arcadedb_spark.graph.match import combine_paths, project_stage

    df, aliases = _lower_stage_frames(db, stages, params, env, _T,
                                      static_value)
    df, _ = combine_paths(
        db, stmt.paths, stmt.where, params, base=df, base_aliases=aliases
    )
    return project_stage(
        db, df, stmt.returns, params,
        distinct=stmt.distinct, group_by=stmt.group_by,
        order_by=stmt.order_by, skip=stmt.skip, limit=stmt.limit,
    )


def _lower_call_subquery(db, df, aliases, text, params,
                         env, _T, static_value):
    """Lower ``CALL { … }`` (reference CallStep.java:71; Cypher25Parser.g4
    callClause) — Spark-first DECORRELATION instead of per-row execution:

    - Uncorrelated (no importing WITH): the subquery runs ONCE and its
      result crossJoins the pipeline frame (Catalyst broadcasts the small
      side) — never once per input row.
    - Correlated (leading ``WITH a, b`` importing outer variables): the
      subquery is keyed by the DISTINCT imported values (one evaluation
      per distinct binding, not per row) and joined back — the classic
      aggregate-decorrelation rewrite, so a 10^9-row outer frame with
      10^3 distinct keys costs 10^3 subquery evaluations.
    - A returning subquery with zero rows for a binding eliminates those
      outer rows (openCypher CALL semantics — inner join back).

    Documented deviations: unit (non-returning, write-only) subqueries
    and per-invocation ORDER BY … LIMIT under correlation are rejected
    with a clear error instead of silently mis-executing.
    """
    from pyspark.sql import functions as F

    from arcadedb_spark.graph.match import combine_paths, project_stage
    from arcadedb_spark.sql.translator import (
        TranslateError, _contains_aggregate, _safe_distinct,
    )

    sub = CypherParser(text, params)
    stmts = sub.parse_query()
    if sub.cur.kind != "EOF":
        raise ParseError(f"Trailing input in CALL subquery at {sub.cur!r}")
    if any(s is None for s, _ in stmts):
        raise TranslateError(
            "CALL { … } unit (write) subqueries may only contain write "
            "clauses after an optional bare importing WITH — a MATCH / "
            "UNWIND / expression WITH inside a non-returning block is "
            "not supported; use MATCH … CREATE/MERGE clause chaining "
            "instead"
        )
    # importing WITH: single branch whose first stage is a bare-variable
    # WITH over columns bound in the outer frame
    imports: list[str] = []
    if len(stmts) == 1 and df is not None:
        stmt0, stages0 = stmts[0]
        if stages0:
            st0 = stages0[0]
            if (
                not st0["paths"] and st0["where"] is None
                and "with_items" in st0
                and st0.get("with_where") is None
                and not st0.get("with_order")
                and st0.get("with_skip") is None
                and st0.get("with_limit") is None
                and not st0.get("with_distinct")
                and all(
                    isinstance(it.expr, ast.Chain)
                    and len(it.expr.parts) == 1 and it.alias is None
                    for it in st0["with_items"]
                )
            ):
                names = [it.expr.parts[0] for it in st0["with_items"]]
                if all(n in df.columns for n in names):
                    imports = names
                    stmts = [(stmt0, stages0[1:])]
    if imports:
        stmt0, inner_stages = stmts[0]
        if stmt0.skip is not None or stmt0.limit is not None:
            raise TranslateError(
                "CALL { … } with importing WITH and SKIP/LIMIT runs "
                "per-invocation — not supported; lift the LIMIT out or "
                "drop the import"
            )
        ret_aliases = [
            it.alias or _bare_alias(it) or f"__c{i}"
            for i, it in enumerate(stmt0.returns)
        ]
        clash = [a for a in ret_aliases if a in df.columns]
        if clash:
            raise TranslateError(
                f"CALL subquery returns already-bound variable(s): {clash}"
            )
        key = df.select(
            *[F.col(n).alias(f"__imp_{n}") for n in imports]
        ).dropDuplicates()
        base_in = key.select(
            *[F.col(f"__imp_{n}").alias(n) for n in imports]
        )
        inner, inner_aliases = _lower_stage_frames(
            db, inner_stages, params, env, _T, static_value,
            base=base_in, base_aliases=set(imports),
        )
        inner, _ = combine_paths(
            db, stmt0.paths, stmt0.where, params,
            base=inner, base_aliases=inner_aliases,
        )
        items = tuple(
            ast.ProjItem(it.expr, a)
            for it, a in zip(stmt0.returns, ret_aliases)
        ) + tuple(
            ast.ProjItem(ast.Chain((n,)), f"__imp_{n}") for n in imports
        )
        group_by = stmt0.group_by
        if any(_contains_aggregate(it.expr) for it in stmt0.returns):
            group_by = tuple(group_by) + tuple(
                ast.Chain((n,)) for n in imports
            )
        sub_out = project_stage(
            db, inner, items, params,
            distinct=stmt0.distinct, group_by=group_by,
            order_by=stmt0.order_by,
        )
        cond = None
        for n in imports:
            c = df[n].eqNullSafe(sub_out[f"__imp_{n}"])
            cond = c if cond is None else cond & c
        # openCypher: a RETURN of ONLY aggregates yields exactly one row
        # per invocation even over zero matches (count(…)=0, sum=0,
        # collect=[]) — the grouped decorrelation produces no group row
        # for zero-match bindings, so join back LEFT and fill the
        # aggregate identities.  With grouping keys in the RETURN, zero
        # rows legitimately eliminate the binding (inner join).
        pure_agg = bool(stmt0.returns) and not stmt0.group_by and all(
            _contains_aggregate(it.expr) for it in stmt0.returns
        )
        how = "left" if pure_agg else "inner"
        out = df.join(sub_out, cond, how).drop(
            *[f"__imp_{n}" for n in imports]
        )
        if pure_agg:
            for it, a in zip(stmt0.returns, ret_aliases):
                fn = it.expr.name.lower() if isinstance(
                    it.expr, ast.FuncCall
                ) else ""
                if fn in ("count", "sum"):
                    out = out.withColumn(a, F.coalesce(F.col(a), F.lit(0)))
                elif fn in ("collect", "list", "set"):
                    out = out.withColumn(
                        a,
                        F.coalesce(
                            F.col(a),
                            F.array().cast(out.schema[a].dataType),
                        ),
                    )
        return out, set(aliases) | set(ret_aliases)
    # uncorrelated: one evaluation, crossJoin into the pipeline
    sub_out = None
    for stmt0, stages0 in stmts:
        part = _translate_pipeline(db, stmt0, list(stages0), params)
        sub_out = part if sub_out is None else sub_out.unionByName(part)
    if len(stmts) > 1 and not getattr(sub, "_union_all", False):
        sub_out = _safe_distinct(sub_out)
    clash = [c for c in sub_out.columns if df is not None and c in df.columns]
    if clash:
        raise TranslateError(
            f"CALL subquery returns already-bound variable(s): {clash}"
        )
    out = sub_out if df is None else df.crossJoin(sub_out)
    return out, set(aliases) | set(sub_out.columns)


def _lower_load_csv(db, df, aliases, spec, params):
    """Lower a LOAD CSV stage (LoadCSVStep.java:61) onto the pipeline.

    Spark-first: the file reads through ``spark.read.csv`` (distributed,
    RFC-4180 quote handling with ``""`` doubling, multiline quoted
    fields).  Without WITH HEADERS the bound variable is a
    ``array<string>`` per row; with WITH HEADERS it is a
    ``map<string,string>`` (missing trailing fields → null values, same
    as the reference's LinkedHashMap padding).  ``file()`` /
    ``linenumber()`` read the hidden ``__loadCSV_*`` columns the stage
    attaches — Catalyst prunes the line-number window when the query
    never calls linenumber(), so the scan stays fully distributed on the
    common path."""
    import os as _os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler, TranslateError

    url_expr = spec["url"]
    cols = tuple(df.columns) if df is not None else ()
    ctx = Ctx(cypher=True, db=db, params=params or {}, columns=cols)
    from arcadedb_spark.sql.litreg import value_of

    url = value_of(ExprCompiler(ctx).compile(url_expr))
    if url is None:
        # constant expression (e.g. concat of params) — evaluate once
        try:
            url = db.spark.range(1).select(
                ExprCompiler(ctx).compile(url_expr).alias("__u")
            ).collect()[0][0]
        except Exception:
            url = None
    if url is None:
        raise TranslateError(
            "LOAD CSV URL must be a constant expression or parameter "
            "(per-row URLs are not supported here)"
        )
    url = str(url)
    if url.startswith(("http://", "https://")):
        raise TranslateError(
            "http(s) LOAD CSV is not supported here — download the file "
            "and load via file:// (network fetch belongs to the "
            "ingestion layer)"
        )
    path = url
    for pfx in ("file://", "file:"):
        if path.startswith(pfx):
            path = path[len(pfx):]
            break
    if not _os.path.exists(path):
        raise TranslateError(f"LOAD CSV: file not found: {url}")
    reader = (
        db.spark.read
        .option("header", spec["headers"])
        .option("inferSchema", False)
        .option("sep", spec["sep"])
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        # the reference keeps empty unquoted fields as '' (LoadCSVStep
        # parseCSVLine); Spark's default nullValue='' would null them
        .option("nullValue", "\u0000")
    )
    cdf = reader.csv(path)
    alias = spec["alias"]
    if spec["headers"]:
        names = cdf.columns
        row_col = F.map_from_arrays(
            F.array(*[F.lit(c) for c in names]),
            F.array(*[F.col(c).cast("string") for c in names]),
        )
        first_line = 2  # the header line is line 1 (LoadCSVStep:190)
    else:
        row_col = F.array(*[F.col(c).cast("string") for c in cdf.columns])
        first_line = 1
    cols = [row_col.alias(alias), F.lit(url).alias("__loadCSV_file")]
    if spec.get("need_ln"):
        # bounded-window ok: linenumber() is inherently sequential (a
        # per-file line counter) and only attaches when the query calls
        # it — the common LOAD CSV scan stays fully distributed
        ln = (
            F.row_number().over(
                # bounded-window ok (see above: opt-in, per-file counter)
                Window.orderBy(F.monotonically_increasing_id())
            )
            + F.lit(first_line - 1)
        ).cast("long")
        cols.append(ln.alias("__loadCSV_linenumber"))
    csv_frame = cdf.select(*cols)
    out = csv_frame if df is None else df.crossJoin(csv_frame)
    return out, set(aliases) | {alias}


def _lower_stage_frames(db, stages, params, env, _T, static_value,
                        base=None, base_aliases=None):
    """Lower WITH/UNWIND pipeline stages to (frame, bound-aliases)."""
    from arcadedb_spark.sql.translator import _contains_aggregate
    from arcadedb_spark.graph.match import combine_paths, project_stage

    df = base
    aliases: set[str] = set(base_aliases or ())
    for stage in stages:
        if stage["paths"] or stage["where"] is not None:
            df, aliases = combine_paths(
                db, stage["paths"], stage["where"], params,
                base=df, base_aliases=aliases,
            )
        if "subquery" in stage:
            df, aliases = _lower_call_subquery(
                db, df, aliases, stage["subquery"], params,
                env, _T, static_value,
            )
            continue
        if "call" in stage:
            from arcadedb_spark.graph.procedures import call_procedure
            from arcadedb_spark.sql.translator import TranslateError
            from pyspark.sql import functions as F

            spec = stage["call"]
            if not spec["parens"]:
                # implicit (parenthesis-less) calls are standalone-only
                # (openCypher; TCK Call2[4] expects SyntaxError in-query)
                raise TranslateError(
                    "In-query procedure calls must use explicit "
                    "arguments — implicit CALL is standalone-only"
                )
            import arcadedb_spark.graph.procedures_path as _pp
            from arcadedb_spark.graph.procedures import normalize_proc_name

            key = normalize_proc_name(spec["proc"])
            if key in _pp.FRAME_PROCEDURES:
                # frame-aware procedure (path.expand & co): the bound
                # node args resolve against the pipeline frame; the
                # result REPLACES the frame (per-input-row streaming,
                # CallStep.java:71 — here one distributed join)
                if not spec["yields"] or spec.get("star"):
                    raise TranslateError(
                        f"In-query CALL {spec['proc']} must YIELD its "
                        "outputs explicitly (YIELD * is standalone-only)"
                    )
                out, ycols = _pp.FRAME_PROCEDURES[key](
                    db, spec["args"], df, params
                )
                carried = [c for c in out.columns if c not in ycols]
                sel = [out[c] for c in carried]
                for c, a in spec["yields"]:
                    if c not in ycols:
                        raise TranslateError(
                            f"Unknown YIELD column '{c}' for "
                            f"{spec['proc']} (yields: {ycols})"
                        )
                    sel.append(F.col(c).alias(a))
                df = out.select(*sel)
                aliases = set(aliases) | {a for _, a in spec["yields"]}
                continue
            proc_df = call_procedure(
                db, spec["proc"], spec["args"],
                params=params, implicit=False,
            )
            if not proc_df.columns:
                # VOID procedure in-query: cardinality-preserving no-op
                # (openCypher CALL semantics, TCK Call1)
                continue
            if not spec["yields"] or spec.get("star"):
                raise TranslateError(
                    f"In-query CALL {spec['proc']} must YIELD its outputs "
                    "explicitly (YIELD * is standalone-only)"
                )
            proc_df = proc_df.select(
                *[F.col(c).alias(a) for c, a in spec["yields"]]
            )
            # CallStep semantics: the procedure frame joins the pipeline
            # (procedure args are literals here, so it's one crossJoin —
            # Catalyst broadcasts the small side)
            df = proc_df if df is None else df.crossJoin(proc_df)
            aliases = set(aliases)
            continue
        if "load_csv" in stage:
            df, aliases = _lower_load_csv(
                db, df, aliases, stage["load_csv"], params
            )
            continue
        if "unwind" in stage:
            from pyspark.sql import functions as F

            from arcadedb_spark.sql.translator import Ctx, ExprCompiler

            expr, alias = stage["unwind"]
            if df is None:
                df = db.spark.range(1).select(F.lit(1).alias("__one"))
            # a path variable entering an UNWIND list becomes a VALUE —
            # attach its entity payloads first so the resulting cells
            # render as full paths (TCK ReturnOrderBy1[11])
            from arcadedb_spark.graph.match import enrich_path_columns
            from arcadedb_spark.sql.translator import walk as _uw

            upvars = [
                n.parts[0] for n in _uw(expr)
                if isinstance(n, ast.Chain) and len(n.parts) == 1
                and n.parts[0] in df.columns
            ]
            if upvars:
                df = enrich_path_columns(
                    db, df, list(dict.fromkeys(upvars))
                )
            ctx = Ctx(cypher=True, db=db, params=params, columns=tuple(df.columns),
                      frame_schema=df.schema)
            compiled = ExprCompiler(ctx).compile(expr)
            from pyspark.sql.types import NullType as _NullT

            sdt = ExprCompiler(ctx)._static_dtype(expr)
            if isinstance(expr, ast.Lit) and expr.value is None or isinstance(
                sdt, _NullT
            ):
                # UNWIND null yields no rows (openCypher; explode(NULL)
                # needs a typed array)
                compiled = compiled.cast("array<string>")
            exploded = F.explode(compiled)
            from arcadedb_spark.sql.temporal_eval import try_eval as _tev

            t_ok, t_v = _tev(expr, params)
            src_tagged = (
                isinstance(expr, ast.Chain) and len(expr.parts) == 1
                and any(
                    f.name == expr.parts[0]
                    and f.metadata.get("cy_temporal")
                    for f in df.schema.fields
                )
            )
            df = df.withColumn(alias, exploded)
            if (t_ok and isinstance(t_v, list)) or src_tagged:
                # statically-temporal list (direct or via a tagged WITH
                # projection): tag the exploded column so ORDER BY and
                # comparisons use instants, not lexicographic strings
                # (alias(metadata=) is dropped on generator output —
                # withMetadata survives projections)
                df = df.withMetadata(alias, {"cy_temporal": True})
            # the unwound alias is a binding: a later MATCH (a)-->(b2)
            # joins on it (entity elements — TCK Unwind1[12]); scalar
            # elements join whole-value
            aliases = set(aliases) | {alias}
            continue
        if df is None:
            # standalone WITH start (no MATCH): one-row seed frame
            from pyspark.sql import functions as F

            df = db.spark.range(1).select(F.lit(1).alias("__one"))
        for it in stage["with_items"]:
            if (
                it.alias is None
                and not isinstance(it.expr, ast.Star)
                and not (
                    isinstance(it.expr, ast.Chain) and len(it.expr.parts) == 1
                )
            ):
                # WITH requires an alias for every non-variable expression
                # (openCypher NoExpressionAlias, TCK With4[5])
                from arcadedb_spark.sql.translator import TranslateError

                raise TranslateError(
                    "Expression in WITH must be aliased (use AS)"
                )
        items = [
            ast.ProjItem(it.expr, it.alias or _bare_alias(it) or f"__w{i}")
            for i, it in enumerate(stage["with_items"])
        ]
        # carry static temporal bindings: WITH date(…) AS d keeps d
        # compile-time constant for later stages
        new_env = {}
        for it in items:
            ok, v = static_value(it.expr, params)
            if ok and isinstance(v, _T.TEMPORAL_TYPES):
                new_env[it.alias] = v
        group_by: tuple = ()
        if any(_contains_aggregate(it.expr) for it in items):
            group_by = tuple(
                it.expr for it in items if not _contains_aggregate(it.expr)
            )
        w_where = stage["with_where"]
        pre_where = (
            w_where is not None
            and not group_by
            and stage.get("with_skip") is None
            and stage.get("with_limit") is None
        )
        if pre_where:
            # WITH … WHERE sees the input scope AND the projected names
            # (TCK WithWhere1/7): substitute alias references with their
            # defining expressions and filter BEFORE the projection —
            # row-wise projections (and DISTINCT) commute with the filter
            from arcadedb_spark.graph.match import attach_pattern_markers
            from arcadedb_spark.sql.translator import (
                Ctx, ExprCompiler, _subst_alias_refs,
            )

            alias_map = {
                it.alias: it.expr for it in items
                if it.alias and not isinstance(it.expr, ast.Star)
            }
            subst = _subst_alias_refs(w_where, alias_map)
            wmarkers: dict = {}
            wmcols: list = []
            df = attach_pattern_markers(
                db, df, [subst], params, wmarkers, wmcols
            )
            wctx = Ctx(cypher=True, db=db, params=params,
                       columns=tuple(df.columns), frame_schema=df.schema,
                       precompiled=wmarkers)
            df = df.filter(ExprCompiler(wctx).compile(subst))
            if wmcols:
                df = df.drop(*wmcols)
        df = project_stage(
            db, df, items, params, group_by=group_by,
            distinct=stage.get("with_distinct", False),
            order_by=tuple(stage.get("with_order") or ()),
            skip=stage.get("with_skip"),
            limit=stage.get("with_limit"),
            order_scope="strict",  # WITH always re-scopes ORDER BY
        )
        from arcadedb_spark.sql.temporal import sort_key_of_string as _sks
        from arcadedb_spark.sql.temporal_eval import try_eval as _tev2

        def _is_tstr(x) -> bool:
            if not isinstance(x, str) or not x or not x[0].isdigit():
                return False
            try:
                return _sks(x) is not None
            except Exception:
                return False

        for it in stage["with_items"]:
            if it.alias and it.alias in df.columns:
                ok2, v2 = _tev2(it.expr, params)
                if ok2 and (
                    _is_tstr(v2)
                    or (isinstance(v2, list) and v2
                        and all(_is_tstr(x) for x in v2))
                ):
                    # statically-temporal projection (the evaluator
                    # renders temporals to canonical strings): instants
                    # drive ORDER BY and comparisons downstream
                    df = df.withMetadata(it.alias, {"cy_temporal": True})
        if stage.get("with_order"):
            # WITH … ORDER BY fixes row order for downstream collect():
            # carry the position as a hidden column — the ids of a freshly
            # range-sorted frame increase with the sort (partition index
            # rides the high bits), and the aggregate path sorts collects
            # by it (WithOrderBy1[45]: collect after ORDER BY is ordered)
            from pyspark.sql import functions as F

            df = df.withColumn("__row_order", F.monotonically_increasing_id())
        if w_where is not None and not pre_where:
            from arcadedb_spark.sql.translator import Ctx, ExprCompiler

            ctx = Ctx(cypher=True, db=db, params=params, columns=tuple(df.columns),
                      frame_schema=df.schema)
            df = df.filter(ExprCompiler(ctx).compile(w_where))
        new_aliases: set = set()
        for it in stage["with_items"]:
            if isinstance(it.expr, ast.Star):
                new_aliases |= aliases  # WITH * keeps every binding
            elif it.alias:
                # every projected name is a binding for later MATCH
                # stages — WITH coalesce(b, c) AS x MATCH (x)-->(d)
                # joins on x (TCK Match7[22])
                new_aliases.add(it.alias)
            elif isinstance(it.expr, ast.Chain) and len(it.expr.parts) == 1:
                new_aliases.add(it.expr.parts[0])
        aliases = new_aliases
        env.clear()
        env.update(new_env)
    return df, aliases


def _ast_literal(e, params):
    """Structurally evaluate a literal AST (incl. lists/maps) to a Python
    value; raises ValueError when not a pure literal."""
    if isinstance(e, ast.Lit):
        return e.value
    if isinstance(e, ast.Param):
        if params and e.name in params:
            return params[e.name]
        raise ValueError("unbound parameter")
    if isinstance(e, ast.ArrayLit):
        return [_ast_literal(x, params) for x in e.items]
    if isinstance(e, ast.MapLit):
        return {k: _ast_literal(v, params) for k, v in e.entries}
    if isinstance(e, ast.Unary) and e.op == "-":
        return -_ast_literal(e.operand, params)
    raise ValueError("not a literal")


def _literal_props(db, props, params) -> dict:
    from arcadedb_spark.sql.litreg import value_of
    from arcadedb_spark.sql.translator import Ctx, ExprCompiler, TranslateError

    out = {}
    for k, e in props:
        try:
            out[k] = _ast_literal(e, params)
            continue
        except ValueError:
            pass
        from arcadedb_spark.sql.temporal_eval import try_eval

        ok, v = try_eval(e, params or {})
        if ok:
            # temporal values (and lists of them) store as canonical
            # strings (TCK Temporal4 temporal-array properties)
            out[k] = v
            continue
        if isinstance(e, ast.Chain) and len(e.parts) == 1:
            # a bare identifier in a literal property map is an undefined
            # variable (bound variables were substituted upstream) —
            # SyntaxError: UndefinedVariable (TCK Create1)
            raise TranslateError(
                f"Undefined variable '{e.parts[0]}' in property map"
            )
        col = ExprCompiler(Ctx(cypher=True, db=db, params=params or {})).compile(e)
        out[k] = value_of(col)
    return out


def _expand_copy_entity(pairs, params, resolve=None):
    """Expand ``@copy_entity`` / ``@copy_entity_merge`` markers (``SET n =
    m`` / ``SET n += m``) into per-key literal assignments.  ``resolve``
    maps the RHS expression to a literal-bearing AST (frame-row
    substitution); the RHS must evaluate to a map/entity.  Internal keys
    (vid, @type, etype, src, dst) never copy (SetPropertiesFromMapStep
    semantics)."""
    from arcadedb_spark.sql.translator import TranslateError

    out = []
    for prop, e in pairs:
        if prop not in ("@copy_entity", "@copy_entity_merge"):
            out.append((prop, e))
            continue
        e2 = resolve(e) if resolve is not None else e
        try:
            d = _ast_literal(e2, params)
        except ValueError:
            raise TranslateError(
                "SET alias = expression needs a map or entity value"
            )
        if d is None:
            d = {}
        if not isinstance(d, dict):
            raise TranslateError(
                "InvalidArgumentType: SET alias = needs a map value"
            )
        d = {
            k: v for k, v in d.items()
            if k not in ("vid", "etype", "src", "dst", "@eid")
            and not k.startswith("@")
        }
        for k, v in d.items():
            out.append((k, ast.Lit(v)))
        if prop == "@copy_entity":
            out.append(("@replace_keys", ast.Lit(tuple(d.keys()))))
    return out


import itertools as _it

_wuid = _it.count()


def _expr_refs_columns(e, cols) -> bool:
    """Does the AST reference ``alias.prop`` for any alias in ``cols``?"""
    if isinstance(e, ast.Chain) and len(e.parts) > 1 and e.parts[0] in cols:
        return True
    if hasattr(e, "__dataclass_fields__"):
        return any(
            _expr_refs_columns(getattr(e, f_), cols)
            for f_ in e.__dataclass_fields__
        )
    if isinstance(e, (tuple, list)):
        return any(_expr_refs_columns(x, cols) for x in e)
    return False


def _subst_binding_props(e, bindings):
    """Replace ``alias.prop`` chains whose alias is a write binding with
    the bound entity's stored property value (missing → null)."""
    if (
        isinstance(e, ast.Chain)
        and len(e.parts) == 2
    ):
        b = next((b for b in bindings if b[0] == e.parts[0]), None)
        if b is not None:
            return ast.Lit((b[3] or {}).get(e.parts[1]))
    if hasattr(e, "__dataclass_fields__"):
        import dataclasses as _dc

        changes = {}
        for f_ in e.__dataclass_fields__:
            v_ = getattr(e, f_)
            nv = _subst_binding_props_any(v_, bindings)
            if nv is not v_:
                changes[f_] = nv
        return _dc.replace(e, **changes) if changes else e
    return e


def _subst_binding_props_any(v, bindings):
    if isinstance(v, tuple):
        out = tuple(_subst_binding_props_any(x, bindings) for x in v)
        return out if any(a is not b for a, b in zip(out, v)) else v
    from arcadedb_spark.sql import ast as _ast

    if isinstance(v, _ast.Expr):
        return _subst_binding_props(v, bindings)
    return v


def _apply_write(
    db, g, kind: str, path: ast.MatchPath, df, aliases, params,
    on_create=(), on_match=(), bindings=None, edge_bindings=None,
    frame_ref=None,
) -> int:
    """One CREATE/MERGE pattern: create/match each node, then one edge per
    step (per match row when endpoints are bound).  Reference:
    query/opencypher/executor/steps/CreateStep.java:60 / MergeStep.java:73.
    MERGE supports ON CREATE SET / ON MATCH SET on the pattern's own
    (non-bound) node aliases, and is idempotent for relationships
    (existing (src,dst) pairs of the edge type are not re-created).

    Deviation (documented): a literal node inside MATCH…CREATE is created
    ONCE and shared across match rows — vids are content-derived hashes,
    so per-row copies with identical props would collapse anyway; Cypher
    proper would mint one anonymous node per row."""
    from pyspark.sql import functions as F

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler, TranslateError

    if kind in ("create", "merge") and not path.steps and path.root.alias:
        a_ = path.root.alias
        if a_ in (aliases or ()) or any(b[0] == a_ for b in (bindings or ())):
            # CREATE/MERGE (a) where a is already bound and the pattern
            # adds no relationship: VariableAlreadyBound (TCK Create1/Merge1)
            raise TranslateError(f"Variable '{a_}' already bound")
    for s in path.steps:
        # openCypher CREATE/MERGE relationship constraints (TCK Create2):
        # exactly one type, a direction, single-hop, fresh variable
        if len(s.edge_types) != 1:
            raise TranslateError(
                "CREATE/MERGE relationships need exactly one type"
            )
        if s.method == "both":
            if kind == "merge":
                # MERGE with an undirected relationship creates OUTGOING
                # (openCypher; TCK Merge5 [11]) — rewrite the step, but
                # remember undirectedness: MATCHING must still consider
                # both orientations (TCK Merge5 [13])
                object.__setattr__(s, "method", "out")
                object.__setattr__(s, "_was_undirected", True)
            else:
                raise TranslateError(
                    "CREATE relationships need a direction"
                )
        if s.max_hops != 1 or s.min_hops != 1 or getattr(
            s, "var_length", False
        ):
            raise TranslateError(
                "variable-length relationships cannot be created"
            )
        if s.edge_alias and (
            s.edge_alias in (aliases or ())
            or any(b[0] == s.edge_alias for b in (bindings or ()))
        ):
            raise TranslateError(
                f"Relationship variable '{s.edge_alias}' already bound"
            )
    nodes = [path.root] + [s.filter for s in path.steps]
    for _n in nodes:
        if _n.type_name and "|" in _n.type_name:
            # label disjunction is a read-pattern construct; writes take
            # conjunctions only (Cypher25Parser.g4
            # insertNodeLabelExpression — SyntaxError on |)
            raise TranslateError(
                f"{kind.upper()} cannot use a label disjunction "
                f"({_n.type_name!r}); list labels with ':'"
            )
    resolved: list[tuple[str, object]] = []  # ('bound', alias) | ('vid', vid)
    node_state: list[tuple] = []  # (alias, label, vid, 'created'|'matched')
    created = 0
    for node in nodes:
        if node.alias and node.alias in (aliases or ()) and df is not None:
            # frame-bound alias; without a frame (standalone write
            # pipeline) fall through to the write-bindings lookup
            if kind == "create" and (node.type_name or node.props or node.props_braced):
                # CREATE (a:L {p: v}) with a already bound: labels/props
                # on a bound variable are a SyntaxError (TCK Create1)
                raise TranslateError(
                    f"Variable '{node.alias}' already bound — CREATE may "
                    "reuse it only bare"
                )
            if kind == "merge" and node.type_name:
                # MERGE may reuse a bound variable only bare — imposing a
                # new label is VariableAlreadyBound (TCK Merge5 [22])
                raise TranslateError(
                    f"Variable '{node.alias}' already bound — MERGE may "
                    "not impose new predicates on it"
                )
            resolved.append(("bound", node.alias))
            continue
        if node.alias:
            # alias already bound by an earlier CREATE/MERGE clause of
            # the same query (Cypher cross-clause binding): reuse it
            prev = next(
                (b for b in (bindings or ()) if b[0] == node.alias), None
            )
            if prev is not None:
                if kind == "create" and (node.type_name or node.props or node.props_braced):
                    raise TranslateError(
                        f"Variable '{node.alias}' already bound — CREATE "
                        "may reuse it only bare"
                    )
                if kind == "merge" and node.type_name:
                    raise TranslateError(
                        f"Variable '{node.alias}' already bound — MERGE "
                        "may not impose new predicates on it"
                    )
                resolved.append(("vid", prev[2]))
                continue
        # unlabeled nodes (Cypher `CREATE ()`) live under the internal "_"
        # label; labels() reports them as label-less
        label = node.type_name or "_"
        if (
            kind == "create"
            and df is not None
            and frame_ref is not None
            and node.props
            and _expr_refs_columns(tuple(e for _, e in node.props),
                                   set(df.columns))
        ):
            # per-row creation: the property values come from the match
            # frame (MATCH (d) CREATE (e {name: d.name + '0'})) — one new
            # vertex per frame row, minted and joined frame-wise
            # (CreateStep.java:60 per-upstream-row semantics)
            alias_name = node.alias or f"__c{next(_wuid)}"
            vcol = f"__vid_{alias_name}"
            df = df.withColumn(
                vcol, g.frame_vid_col(g.mint_vid_block()).cast("long")
            ).truncate_plan()
            ctx = Ctx(cypher=True, db=db, params=params or {},
                      columns=tuple(df.columns), frame_schema=df.schema)
            comp = [
                (k, ExprCompiler(ctx).compile(e)) for k, e in node.props
            ]
            store = df.select(
                F.col(vcol).alias("vid"), *[c.alias(k) for k, c in comp]
            )
            created += g.append_vertex_frame(label, store)
            disp = g.label_display.get(label.lower(), label)
            df = df.withColumn(
                alias_name,
                F.struct(
                    F.col(vcol).alias("vid"), F.lit(disp).alias("@type"),
                    *[c.alias(k) for k, c in comp],
                ),
            ).drop(vcol)
            if frame_ref is not None:
                frame_ref[0] = df
            if aliases is not None and node.alias:
                try:
                    aliases.add(node.alias)
                except AttributeError:
                    pass
            resolved.append(("bound", alias_name))
            continue
        if (
            kind == "merge"
            and df is not None
            and node.props
            and _expr_refs_columns(tuple(e for _, e in node.props),
                                   set(df.columns))
        ):
            # frame-referencing MERGE (UNWIND $events AS ev MERGE
            # (e:Event {id: ev.id})): match-or-create per DISTINCT prop
            # tuple, then bind the alias onto the frame with one
            # broadcast join (TCK Unwind1[6]).  The distinct set is
            # driver-bounded — MERGE semantics are inherently
            # row-sequential (MergeStep.java row loop).
            mctx = Ctx(cypher=True, db=db, params=params or {},
                       columns=tuple(df.columns), frame_schema=df.schema)
            comp = [
                (k, ExprCompiler(mctx).compile(e)) for k, e in node.props
            ]
            cap = 10_000
            distinct_rows = (
                df.select(*[c.alias(k) for k, c in comp])
                .distinct().limit(cap + 1).collect()
            )
            if len(distinct_rows) > cap:
                raise TranslateError(
                    "frame-referencing MERGE exceeds the bounded distinct "
                    f"set ({cap}) — pre-aggregate or use CREATE"
                )
            rows_out = []
            for r_ in distinct_rows:
                pvals = {k: r_[k] for k, _ in comp}
                if any(v is None for v in pvals.values()):
                    raise TranslateError(
                        "Cannot MERGE with a null property value"
                    )
                vid_m = None
                state_m = "matched"
                if label.lower() in g.vertex_dfs:
                    vdf_m = g.vertices(label)
                    ok_m = all(k in vdf_m.columns for k in pvals)
                    if ok_m:
                        cond_m = F.lit(True)
                        for k, v in pvals.items():
                            cond_m = cond_m & (F.col(k) == F.lit(v))
                        hit_m = vdf_m.filter(cond_m).limit(1).collect()
                        if hit_m:
                            vid_m = hit_m[0]["vid"]
                if vid_m is None:
                    vid_m = g.add_vertex_rows(label, [dict(pvals)])[0]
                    created += 1
                    state_m = "created"
                node_state.append((node.alias, label, vid_m, state_m))
                if bindings is not None and node.alias:
                    bindings.append((node.alias, label, vid_m, dict(pvals)))
                rows_out.append({**pvals, "vid": vid_m})

            mdf = local_df(db.spark, rows_out)
            for k, _ in comp:
                mdf = mdf.withColumnRenamed(k, f"__mm_{k}")
            mdf = mdf.withColumnRenamed("vid", "__mm_vid")
            jc = None
            for k, c in comp:
                cnd = c.eqNullSafe(F.col(f"__mm_{k}"))
                jc = cnd if jc is None else (jc & cnd)
            alias_name = node.alias or f"__c{next(_wuid)}"
            disp_m = g.label_display.get(label.lower(), label)
            df = df.join(F.broadcast(mdf), jc, "left")
            df = df.withColumn(
                alias_name,
                F.struct(
                    F.col("__mm_vid").alias("vid"),
                    F.lit(disp_m).alias("@type"),
                    *[F.col(f"__mm_{k}").alias(k) for k, _ in comp],
                ),
            ).drop("__mm_vid", *[f"__mm_{k}" for k, _ in comp])
            if frame_ref is not None:
                frame_ref[0] = df
            if aliases is not None and node.alias:
                try:
                    aliases.add(node.alias)
                except AttributeError:
                    pass
            resolved.append(("bound", alias_name))
            continue
        if kind == "merge":
            # MERGE cannot match/create on a LITERAL null property
            # (SemanticError, TCK Merge1); non-literal expressions that
            # merely fail driver evaluation are not nulls
            for k_, e_ in node.props:
                is_null_literal = False
                try:
                    is_null_literal = _ast_literal(e_, params) is None
                except ValueError:
                    pass  # non-literal expression — not a literal null
                if is_null_literal:
                    raise TranslateError(
                        "Cannot MERGE with a null property value"
                    )
        node_props = node.props
        if bindings:
            # property values may reference entities bound EARLIER in the
            # same statement (CREATE (a {id: 0}), (:B {num: a.id}) — TCK
            # With2[1]): substitute their stored property values
            node_props = tuple(
                (k_, _subst_binding_props(e_, bindings))
                for k_, e_ in node.props
            )
        props = _literal_props(db, node_props, params)
        # Cypher: setting a property to null means "absent"
        props = {k: v for k, v in props.items() if v is not None}
        if (
            kind == "merge" and not path.steps and node.alias
            and not on_create and not on_match
        ):
            # single-node MERGE match set: label-scoped, or EVERY node
            # when bare (MERGE (b) over a non-empty graph matches all
            # nodes — Cypher match-or-create cardinality, TCK Match8[2])
            if node.type_name:
                mvdf = (
                    g.vertices(label)
                    if label.lower() in g.vertex_dfs else None
                )
            else:
                mvdf = g.all_vertices_full()
            cond_m2 = F.lit(True)
            ok_m2 = mvdf is not None
            if ok_m2:
                for k, v in props.items():
                    if k not in mvdf.columns:
                        ok_m2 = False
                        break
                    cond_m2 = cond_m2 & (F.col(k) == F.lit(v))
            hits2 = (
                mvdf.filter(cond_m2).limit(2).collect() if ok_m2 else []
            )
            if len(hits2) >= 2:
                from arcadedb_spark.graph.match import _structify

                matched_df = mvdf.filter(cond_m2)
                sdf = _structify(matched_df, node.alias)
                df = sdf if df is None else df.crossJoin(sdf)
                if frame_ref is not None:
                    frame_ref[0] = df
                if aliases is not None:
                    try:
                        aliases.add(node.alias)
                    except AttributeError:
                        pass
                resolved.append(("bound", node.alias))
                continue
            if len(hits2) == 1:
                row = hits2[0].asDict()
                vid = row["vid"]
                resolved.append(("vid", vid))
                lb2 = (row.get("@type") or label).split(":")[0]
                node_state.append((node.alias, lb2, vid, "matched"))
                if bindings is not None and node.alias:
                    full = {
                        k: v for k, v in row.items()
                        if k not in ("vid",) and not k.startswith("@")
                        and v is not None
                    }
                    bindings.append((node.alias, lb2, vid, full))
                continue
            if not node.type_name and not props:
                # bare MERGE over an empty graph creates one node
                vid = g.add_vertex_rows(label, [props])[0]
                created += 1
                resolved.append(("vid", vid))
                node_state.append((node.alias, label, vid, "created"))
                if bindings is not None and node.alias:
                    bindings.append((node.alias, label, vid, props))
                continue
        if kind == "merge" and label.lower() in g.vertex_dfs:
            vdf = g.vertices(label)
            cond = F.lit(True)
            for k, v in props.items():
                # a property column the frame has never stored matches
                # nothing (missing property = null; TCK Merge1 [9])
                if k not in vdf.columns:
                    cond = F.lit(False)
                    break
                cond = cond & (F.col(k) == F.lit(v))
            hit = vdf.filter(cond).limit(1).collect()
            if hit:
                row = hit[0].asDict()
                vid = row["vid"]
                resolved.append(("vid", vid))
                node_state.append((node.alias, label, vid, "matched"))
                if bindings is not None and node.alias:
                    full = {
                        k: v for k, v in row.items()
                        if k not in ("vid",) and not k.startswith("@")
                    }
                    bindings.append((node.alias, label, vid, full))
                continue
        vid = g.add_vertex_rows(label, [props])[0]
        created += 1
        resolved.append(("vid", vid))
        node_state.append((node.alias, label, vid, "created"))
        if bindings is not None:
            # anonymous nodes record too (alias None): path variables
            # over anonymous patterns need their vids positionally
            bindings.append((node.alias, label, vid, props))
    # ON CREATE SET / ON MATCH SET over the pattern's own aliases
    _row_cache: dict = {}

    def _resolve_frame_refs(e, which: str = "first"):
        """ON CREATE/ON MATCH values referencing match-frame aliases
        (SET city.name = person.bornIn) substitute the triggering row.
        Reference MergeStep applies rows one at a time: the entity is
        CREATED on the first row (ON CREATE sees row 0) and every later
        row re-matches it (ON MATCH re-runs per row, so the LAST row's
        value is the one that survives) — ``which`` picks the row
        accordingly.  Remaining documented deviation: self-referential
        ON MATCH assignments (SET n.x = n.x + 1) apply once here, not
        once per frame row."""
        from arcadedb_spark.sql.translator import walk as _tr_walk

        bare_ref = any(
            isinstance(x, ast.Chain) and len(x.parts) == 1
            and x.parts[0] in (df.columns if df is not None else ())
            for x in _tr_walk(e)
        )
        if df is None or not (
            _expr_refs_columns((e,), set(df.columns)) or bare_ref
        ):
            return e
        if which not in _row_cache:
            _row_cache[which] = (
                df.first() if which == "first"
                else next(iter(df.tail(1)), None)
            )
        row = _row_cache[which]
        if row is None:
            return e
        for c_ in df.columns:
            v_ = row[c_]
            if hasattr(v_, "asDict"):
                v_ = v_.asDict()
            e = _subst_var(e, c_, v_)
        return e

    known_merge = {a for a, _l, _v, _s in node_state if a}
    known_merge |= {s.edge_alias for s in path.steps if s.edge_alias}
    if df is not None:
        known_merge |= set(df.columns)
    edge_aliases = {s.edge_alias for s in path.steps if s.edge_alias}
    edge_set: dict = {"created": {}, "matched": {}}
    for assignments, want in ((on_create, "created"), (on_match, "matched")):
        _validate_set_assignments(assignments, known_merge, params)
        # reference row semantics: creation triggers on the FIRST frame
        # row; re-matching re-applies ON MATCH per row, last value wins
        _which = "first" if want == "created" else "last"

        def _rfr(e, _w=_which):
            return _resolve_frame_refs(e, _w)

        per_alias: dict[str, list] = {}
        for alias, prop, expr in assignments:
            per_alias.setdefault(alias, []).append((prop, _rfr(expr)))
        for alias in list(per_alias):
            per_alias[alias] = _expand_copy_entity(
                per_alias[alias], params, _rfr
            )
            if alias in edge_aliases:
                # relationship-alias assignments apply in the edge loop
                # below (ON CREATE folds into creation; ON MATCH rewrites
                # the matched stored edges)
                edge_set[want][alias] = per_alias.pop(alias)
        for alias, label, vid, state in node_state:
            if state != want or alias is None or alias not in per_alias:
                continue
            matched = local_df(db.spark, [(vid,)], "vid long")
            label_ops = [
                (prop, e) for prop, e in per_alias[alias]
                if prop in ("@set_label", "@remove_label")
            ]
            replace_keys = next(
                (set(e.value) for prop, e in per_alias[alias]
                 if prop == "@replace_keys"), None,
            )
            prop_ops = [
                (prop, e) for prop, e in per_alias[alias]
                if prop not in (
                    "@set_label", "@remove_label", "@replace_keys"
                )
            ]
            cur_label = label
            for prop, e in label_ops:
                for key in _storage_keys(g, cur_label):
                    if prop == "@set_label":
                        g.set_label(key, matched, e.value)
                    else:
                        g.remove_label(key, matched, e.value)
                parts = [p_ for p_ in cur_label.split(":") if p_ != "_"]
                if prop == "@set_label" and e.value.lower() not in (
                    p_.lower() for p_ in parts
                ):
                    parts.append(e.value)
                elif prop == "@remove_label":
                    parts = [
                        p_ for p_ in parts if p_.lower() != e.value.lower()
                    ]
                cur_label = ":".join(parts) or "_"
            if label_ops and bindings is not None:
                for j, b in enumerate(bindings):
                    if b[0] == alias and b[2] == vid:
                        bindings[j] = (b[0], cur_label, b[2], b[3])
            if not prop_ops and replace_keys is None:
                continue
            # the node may have moved storage keys after a label op
            keys = _storage_keys(g, cur_label) or [cur_label]
            for key in keys:
                vdf = g.vertices(key)
                ctx = Ctx(
                    db=db, params=params or {}, columns=tuple(vdf.columns)
                )
                compiled = [
                    (prop, ExprCompiler(ctx).compile(_strip_alias(e, alias)))
                    for prop, e in prop_ops
                ]
                if replace_keys is not None:
                    keep = replace_keys | {"vid"}
                    compiled += [
                        (c, F.lit(None).cast(vdf.schema[c].dataType))
                        for c in vdf.columns
                        if c not in keep and not c.startswith("@")
                    ]
                g.update_vertices(key, matched, compiled)
            # refresh the driver-side binding so RETURN over the no-frame
            # path sees ON CREATE/ON MATCH values
            if bindings is not None:
                evaluated = {}
                for prop, e in prop_ops:
                    try:
                        evaluated[prop] = _ast_literal(
                            _strip_alias(e, alias), params
                        )
                    except ValueError:
                        pass
                for j, b in enumerate(bindings):
                    if b[0] == alias and b[2] == vid:
                        bindings[j] = (
                            b[0], b[1], b[2], {**b[3], **evaluated}
                        )
    for i, step in enumerate(path.steps):
        etype = step.edge_types[0] if step.edge_types else "RELATED"
        a, b = resolved[i], resolved[i + 1]
        if step.method == "in":
            a, b = b, a
        if kind == "merge":
            # MERGE cannot match/create on a LITERAL null property —
            # SemanticError (TCK Merge5 [29], mirrors the node check)
            for k_, e_ in step.edge_props or ():
                is_null_literal = False
                try:
                    is_null_literal = _ast_literal(e_, params) is None
                except ValueError:
                    pass
                if is_null_literal:
                    raise TranslateError(
                        "Cannot MERGE with a null property value"
                    )
        oc = edge_set["created"].get(step.edge_alias or "", [])
        om = edge_set["matched"].get(step.edge_alias or "", [])

        def _refs_frame(exprs) -> bool:
            from arcadedb_spark.sql.translator import walk

            cols = set(df.columns)
            for e_ in exprs:
                for nd in walk(e_):
                    if (
                        isinstance(nd, ast.Chain)
                        and nd.parts[0] in cols
                    ):
                        return True
            return False

        frame_props = (
            df is not None
            and ("bound" in (a[0], b[0]))
            and step.edge_props
            and _refs_frame([e for _k, e in step.edge_props])
        )
        eprops = (
            {} if frame_props
            else _literal_props(db, step.edge_props, params)
        )
        if ("bound" in (a[0], b[0])) and df is not None:
            sel_a = (
                F.col(f"{a[1]}.vid") if a[0] == "bound" else F.lit(a[1]).cast("long")
            )
            sel_b = (
                F.col(f"{b[1]}.vid") if b[0] == "bound" else F.lit(b[1]).cast("long")
            )
            if frame_props:
                # edge props referencing frame variables (MERGE ()-[r:T
                # {p: var}]->() after WITH/UNWIND): compile per-row
                # against the frame instead of requiring literals
                from arcadedb_spark.sql.translator import Ctx as _Cx
                from arcadedb_spark.sql.translator import (
                    ExprCompiler as _EC,
                )

                pctx = _Cx(db=db, params=params or {},
                           columns=tuple(df.columns),
                           frame_schema=df.schema)
                pcols = [
                    _EC(pctx).compile(e).alias(k)
                    for k, e in step.edge_props
                ]
                # no dedup here: CREATE makes one edge per row (parallel
                # edges with differing props are legitimate); MERGE dedups
                # below on its full per-row identity
                frame = df.select(
                    sel_a.alias("src"), sel_b.alias("dst"), *pcols
                )
            else:
                frame = df.select(sel_a.alias("src"), sel_b.alias("dst"))
            if kind == "merge":
                # MERGE-per-row sees its own writes: the first row
                # creates, later identical rows match — net one edge per
                # distinct binding (TCK Merge5 [21]).  Binding identity
                # includes per-row prop values when props reference the
                # frame: rows sharing endpoints but differing in props
                # are distinct bindings and must create distinct edges.
                merge_keys = ["src", "dst"] + (
                    [k for k, _ in step.edge_props] if frame_props else []
                )
                frame = frame.dropDuplicates(merge_keys)
                pairs = frame
                frame = g.filter_new_edges(
                    etype, frame, props=eprops,
                    prop_cols=(
                        [k for k, _ in step.edge_props]
                        if frame_props else ()
                    ),
                    both_directions=getattr(
                        step, "_was_undirected", False
                    ),
                )
                if om:
                    matched_pairs = pairs.select("src", "dst").join(
                        frame.select("src", "dst"), ["src", "dst"],
                        "left_anti",
                    )
                    _set_matched_edges(
                        db, g, etype, matched_pairs, om,
                        step.edge_alias, eprops, params,
                    )
            for k, v in eprops.items():
                frame = frame.withColumn(k, F.lit(v))
            if oc:
                frame = _fold_edge_on_create(
                    db, frame, oc, step.edge_alias, params
                )
            created += g.add_edges_from_frame(etype, frame)
        elif a[0] == "vid" and b[0] == "vid":
            if kind == "merge" and etype in g.edge_meta:
                ef = g.edges(etype).filter(
                    (F.col("src") == a[1]) & (F.col("dst") == b[1])
                )
                match_ok = True
                for k, v in eprops.items():
                    if k not in ef.columns:
                        match_ok = False
                        break
                    ef = ef.filter(F.col(k) == F.lit(v))
                if match_ok and ef.limit(1).count():
                    if om:
                        pair = local_df(db.spark, [(a[1], b[1])], "src long, dst long")
                        _set_matched_edges(
                            db, g, etype, pair, om,
                            step.edge_alias, eprops, params,
                        )
                    continue
            props2 = dict(eprops)
            if oc:
                replace = None
                lits: dict = {}
                for p_, e_ in oc:
                    if p_ == "@replace_keys":
                        replace = set(e_.value)
                    else:
                        lits.update(_literal_props(db, [(p_, e_)], params))
                if replace is not None:
                    props2 = {k: v for k, v in props2.items() if k in replace}
                props2.update(
                    {k: v for k, v in lits.items() if v is not None}
                )
            created += g.add_edge_rows(etype, [(a[1], b[1])], props=props2)
            if edge_bindings is not None and step.edge_alias:
                edge_bindings.append(
                    (step.edge_alias, etype, a[1], b[1], props2)
                )
        else:
            raise TranslateError("CREATE edge endpoints must be bound or literal")
    return created


def _apply_entity_copy_frame(
    db, g, df, alias, copies, alias_label, rel_alias, params,
):
    """``SET n = m`` / ``SET n += m`` with an entity RHS: copy the source
    entity's properties onto the target's stored rows per frame row —
    one equi-join per storage key, no driver-side row loop (TCK Set4,
    reference SetStep.java map-assignment branch)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType, StructType

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler, TranslateError

    if df is None:
        raise TranslateError(
            f"SET {alias} = entity needs a bound match frame"
        )
    n = 0
    for p_, e_ in copies:
        replace = p_ == "@copy_entity"
        ctx = Ctx(
            db=db, params=params or {}, columns=tuple(df.columns),
            frame_schema=df.schema,
        )
        col = ExprCompiler(ctx).compile(e_)
        dt = df.select(col.alias("__src")).schema[0].dataType
        if isinstance(dt, MapType):
            # map-typed RHS: enumerate keys present anywhere in the frame
            keys = [
                r[0]
                for r in df.select(
                    F.explode(F.map_keys(col)).alias("k")
                ).distinct().collect()
            ]
            fields = {k: col.getItem(k) for k in keys}
        elif isinstance(dt, StructType):
            fields = {
                f.name: col.getField(f.name)
                for f in dt.fields
                if f.name not in ("vid", "etype", "src", "dst", "@eid")
                and not f.name.startswith("@")
            }
        else:
            raise TranslateError(
                "SET alias = expression needs a map or entity value"
            )
        copy_cols = list(fields)
        if alias in rel_alias and alias in df.columns:
            sel = [
                F.col(f"{alias}.src").alias("src"),
                F.col(f"{alias}.dst").alias("dst"),
            ]
            etype = rel_alias[alias][0]
            if etype is None:
                sel.append(F.col(f"{alias}.etype").alias("etype"))
            upd = df.select(
                *sel, *[c.alias(k) for k, c in fields.items()]
            ).filter(F.col("src").isNotNull())
            n += g.update_edges_from_frame(
                etype, upd, copy_cols, replace=replace
            )
        elif alias in df.columns:
            upd = df.select(
                F.col(f"{alias}.vid").alias("vid"),
                *[c.alias(k) for k, c in fields.items()],
            ).filter(F.col("vid").isNotNull())
            for key in _storage_keys(g, alias_label.get(alias)):
                n += g.update_vertices_from_frame(
                    key, upd, copy_cols, replace=replace
                )
        else:
            raise TranslateError(
                f"SET target '{alias}' is not a match alias"
            )
    return n


def _fold_edge_on_create(db, frame, oc, alias, params):
    """Fold ON CREATE SET assignments for a relationship alias into the
    creation frame itself (cheaper and atomic vs create-then-update)."""
    from pyspark.sql import functions as F  # noqa: F401

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler

    replace = None
    sets = []
    for p_, e_ in oc:
        if p_ == "@replace_keys":
            replace = set(e_.value)
        else:
            sets.append((p_, e_))
    if replace is not None:
        keep = replace | {"src", "dst"} | {p for p, _ in sets}
        frame = frame.select(*[c for c in frame.columns if c in keep])
    ctx = Ctx(
        db=db, params=params or {}, columns=tuple(frame.columns),
        frame_schema=frame.schema,
    )
    for p_, e_ in sets:
        frame = frame.withColumn(
            p_, ExprCompiler(ctx).compile(_strip_alias(e_, alias))
        )
    return frame


def _set_matched_edges(db, g, etype, pairs, om, alias, eprops, params):
    """Apply ON MATCH SET assignments to the stored edges a MERGE
    matched (pair-keyed, restricted to the pattern's literal props)."""
    from pyspark.sql import functions as F

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler

    if etype not in g.edge_meta:
        return 0
    ecols = tuple(g.edges(etype).columns)
    ectx = Ctx(db=db, params=params or {}, columns=ecols)
    compiled = [
        (p_, ExprCompiler(ectx).compile(_strip_alias(e_, alias)))
        for p_, e_ in om
        if p_ != "@replace_keys"
    ]
    replace = next(
        (set(e_.value) for p_, e_ in om if p_ == "@replace_keys"), None
    )
    if replace is not None:
        keep = replace | {"etype", "src", "dst"} | {p for p, _ in compiled}
        compiled += [
            (c, F.lit(None)) for c in ecols
            if c not in keep and not c.startswith("@")
        ]
    return g.update_edges(etype, pairs, compiled, cond_props=eprops)


def _validate_set_assignments(assignments, known: set, params) -> None:
    """Static checks on SET assignments: every variable referenced in a
    value expression must be bound (TCK Set1 [9] UndefinedVariable), and
    a literal list of maps is not a storable property type (Set1 [10]
    InvalidPropertyType)."""
    from arcadedb_spark.sql.translator import TranslateError, walk

    for alias, prop, e in assignments:
        if prop in ("@set_label", "@remove_label", "@replace_keys"):
            continue
        if alias not in known:
            # the SET target itself must be a bound variable
            # (TCK Merge2 [6] / Merge3 [5] UndefinedVariable)
            from arcadedb_spark.sql.translator import TranslateError as _TE

            raise _TE(f"UndefinedVariable: '{alias}' is not defined")
        if isinstance(e, ast.ArrayLit) and any(
            isinstance(i, ast.MapLit) for i in e.items
        ):
            raise TranslateError(
                "InvalidPropertyType: a list of maps cannot be stored as"
                " a property"
            )
        bound = set(known)
        bound.add(alias)
        for node in walk(e):
            if isinstance(node, (ast.ListComp, ast.Quantifier)):
                bound.add(node.var)
            elif isinstance(node, ast.ReduceExpr):
                bound.add(node.var)
                bound.add(node.acc)
        for node in walk(e):
            if (
                isinstance(node, ast.Chain)
                and node.parts[0] not in bound
            ):
                raise TranslateError(
                    f"UndefinedVariable: '{node.parts[0]}' is not defined"
                )


def _refresh_set_aliases(db, g, df, writes, alias_label, rel_alias):
    """After SET/REMOVE writes, rebuild the frame's entity struct columns
    from post-write storage so later clauses (WITH … WHERE, aggregation,
    RETURN) read updated values — Cypher clause ordering semantics
    (TCK Set6: the result set reflects the writes, side effects don't
    re-run).  One broadcast-sized join per touched alias."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if df is None:
        return df
    touched: dict[str, bool] = {}
    for w in writes:
        if w.get("kind") not in ("set", "remove"):
            continue
        for alias, prop, _e in w.get("assignments", ()):
            lblop = prop in ("@set_label", "@remove_label")
            touched[alias] = touched.get(alias, False) or lblop
    for alias, had_label_op in touched.items():
        if alias not in df.columns:
            continue
        dt = df.schema[alias].dataType
        if not isinstance(dt, StructType):
            continue
        names = set(dt.names)
        if alias in rel_alias and {"etype", "src", "dst"} <= names:
            etype = rel_alias[alias][0]
            e = g.edges(etype) if etype else g.edges()
            upd = e.dropDuplicates(["etype", "src", "dst"]).select(
                F.col("etype").alias("__re"),
                F.col("src").alias("__rs0"),
                F.col("dst").alias("__rd0"),
                F.struct(*[F.col(c) for c in e.columns]).alias("__rx"),
            )
            df = (
                df.join(
                    upd,
                    (F.col(f"{alias}.etype") == F.col("__re"))
                    & (F.col(f"{alias}.src") == F.col("__rs0"))
                    & (F.col(f"{alias}.dst") == F.col("__rd0")),
                    "left",
                )
                .withColumn(alias, F.col("__rx"))
                .drop("__re", "__rs0", "__rd0", "__rx")
            )
            continue
        if "vid" not in names:
            continue
        label = None if had_label_op else alias_label.get(alias)
        keys = _storage_keys(g, label)
        if not keys:
            continue
        # raw storage frames (g.vertices() applies superset label
        # matching, which would duplicate multi-label vids across keys)
        parts = [g.vertex_dfs[k.lower()] for k in keys]
        vdf = parts[0]
        for p2 in parts[1:]:
            vdf = vdf.unionByName(p2, allowMissingColumns=True)
        upd = vdf.select(
            F.col("vid").alias("__rv"),
            F.struct(*[F.col(c) for c in vdf.columns]).alias("__rx"),
        )
        df = (
            df.join(upd, F.col(f"{alias}.vid") == F.col("__rv"), "left")
            .withColumn(alias, F.col("__rx"))
            .drop("__rv", "__rx")
        )
    return df


def _apply_vertex_set(
    db, g, matched, label, alias, assigns, replace_keys, params
) -> int:
    """Compile and apply one alias's SET assignments across its storage
    frames.  ``replace_keys`` (SET n = {…}) nulls every property column
    not named in the map (TCK Set4 [2]/[4])."""
    from pyspark.sql import functions as F

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler

    n = 0
    for lb in _storage_keys(g, label):
        vdf = g.vertices(lb)
        ctx = Ctx(db=db, params=params or {}, columns=tuple(vdf.columns))
        compiled = [
            (prop, ExprCompiler(ctx).compile(_strip_alias(e, alias)))
            for prop, e in assigns
        ]
        if replace_keys is not None:
            keep = replace_keys | {"vid"}
            compiled += [
                (c, F.lit(None).cast(vdf.schema[c].dataType))
                for c in vdf.columns
                if c not in keep and not c.startswith("@")
            ]
        n += g.update_vertices(lb, matched, compiled)
    return n


def _storage_keys(g, label: str | None) -> list[str]:
    """Vertex-frame keys whose label set covers ``label`` (colon-joined
    pattern label set); all keys when the alias is unlabeled.  Multi-label
    nodes live under superset keys, so SET/REMOVE must address the node's
    actual storage frame, not the pattern label."""
    if not label:
        return list(g.vertex_dfs)
    want = {p for p in label.lower().split(":") if p}
    return [k for k in g.vertex_dfs if want <= set(k.split(":"))]


def _subst_var(e, name: str, value):
    """Replace a bare identifier (FOREACH loop variable) with a literal.
    Recurses through expression AND pattern dataclasses (MatchPath etc.)."""
    if isinstance(e, ast.Chain) and e.parts and e.parts[0] == name:
        if len(e.parts) == 1:
            return ast.Lit(value)
        if isinstance(value, dict):  # x.prop over a map element
            return ast.Lit(value.get(e.parts[1]))
    if hasattr(e, "__dataclass_fields__"):
        kwargs = {
            f_: _subst_var(getattr(e, f_), name, value)
            for f_ in e.__dataclass_fields__
        }
        return type(e)(**kwargs)
    if isinstance(e, tuple):
        return tuple(_subst_var(x, name, value) for x in e)
    return e


def _strip_alias(e, alias: str):
    """Rewrite ``alias.prop`` chains to bare ``prop`` (for compiling a SET
    value against the vertex DataFrame itself)."""
    if isinstance(e, ast.Chain) and len(e.parts) > 1 and e.parts[0] == alias:
        return ast.Chain(e.parts[1:])
    if isinstance(e, ast.Expr):
        kwargs = {
            f_: _strip_alias(getattr(e, f_), alias)
            for f_ in e.__dataclass_fields__
        }
        return type(e)(**kwargs)
    if isinstance(e, tuple):
        return tuple(_strip_alias(x, alias) for x in e)
    return e


def _refresh_node_structs(db, g, df):
    """Rebuild every bound node-struct column from the current graph (by
    vid) so a RETURN after SET/REMOVE reflects the post-write state."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    av = None
    for f in df.schema.fields:
        dt = f.dataType
        if not (
            isinstance(dt, StructType)
            and "vid" in dt.names
            and "@type" in dt.names
        ):
            continue
        if av is None:
            av = g.all_vertices_full()
            if av is None:
                return df
            av = av.select(
                F.col("vid").alias("__fvid"),
                F.struct(*[F.col(c) for c in av.columns]).alias("__fresh"),
            )
        alias = f.name
        df = (
            df.join(av, F.col(f"{alias}.vid") == F.col("__fvid"), "left")
            .withColumn(
                alias,
                F.when(F.col("__fvid").isNotNull(), F.col("__fresh")),
            )
            .drop("__fvid", "__fresh")
        )
    return df


def _delete_expression_target(db, g, df, expr, params, detach=True) -> int:
    """DELETE <expression> — the target compiles to node/relationship
    entities possibly nested in lists or maps (TCK Delete5).  The compiled
    column is unwrapped: arrays explode, map/struct containers recurse
    into every entity-typed field, then vids / (src, dst) pairs drive the
    normal removal paths."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StructType

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler, TranslateError

    if df is None:
        raise TranslateError("DELETE expression needs a match frame")
    ctx = Ctx(cypher=True, db=db, params=params or {}, columns=tuple(df.columns),
              frame_schema=df.schema)
    col = ExprCompiler(ctx).compile(expr)
    probe = df.select(col.alias("__t"))
    n = 0

    def _check_deletable(vids_df):
        if detach:
            return
        e = g.edges()
        inc = e.join(
            vids_df.select(F.col("vid").alias("src")).distinct(),
            "src", "left_semi",
        ).unionByName(
            e.join(
                vids_df.select(F.col("vid").alias("dst")).distinct(),
                "dst", "left_semi",
            ),
            allowMissingColumns=True,
        )
        if inc.limit(1).count():
            raise TranslateError(
                "Cannot delete node — it still has relationships "
                "(use DETACH DELETE)"
            )

    def _consume(frame, name):
        nonlocal n
        dtype = frame.schema[name].dataType
        if isinstance(dtype, ArrayType):
            _consume(
                frame.select(F.explode(F.col(name)).alias("__e")), "__e"
            )
            return
        if isinstance(dtype, StructType):
            names = set(dtype.names)
            if "vids" in names:  # path struct
                n += g.remove_vertices_any(
                    frame.select(F.explode(F.col(f"{name}.vids")).alias("vid"))
                )
                return
            if {"etype", "src", "dst"} <= names:
                n += g.remove_edges_typed(
                    frame.select(
                        F.col(f"{name}.etype").alias("etype"),
                        F.col(f"{name}.src").alias("src"),
                        F.col(f"{name}.dst").alias("dst"),
                    ).filter(F.col("src").isNotNull()),
                )
                return
            if "vid" in names:
                matched = frame.select(
                    F.col(f"{name}.vid").alias("vid")
                ).filter(F.col("vid").isNotNull())
                _check_deletable(matched)
                n += g.remove_vertices_any(matched)
                return
            # generic map-as-struct container: recurse into every field
            for f_ in dtype.names:
                _consume(
                    frame.select(F.col(f"{name}.{f_}").alias("__f")), "__f"
                )
            return
        raise TranslateError(
            "DELETE expression must resolve to nodes/relationships/paths"
        )

    _consume(probe, "__t")
    return n


def _try_frame_set(db, g, p, df, params) -> "int | None":
    """Vectorized pure-SET fast path: a single SET clause over vertex
    struct columns of the stage frame (e.g. ``MATCH … WITH n … SET
    n.p = expr`` / ``UNWIND … SET``) executes as ONE per-row property
    rewrite per alias (update_vertices_from_frame equi-join) — no driver
    loop, no 10k row cap.  Returns the set count, or None when the shape
    needs the strict clause-at-a-time loop."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler

    if getattr(p, "_write_return", None) is not None:
        return None
    if getattr(p, "_write_blocks", None):
        return None
    writes = p._writes
    if len(writes) != 1 or writes[0].get("kind") != "set":
        return None
    assigns = writes[0].get("assignments") or ()
    schema = {f.name: f.dataType for f in df.schema.fields}
    per_alias: dict[str, list] = {}
    for alias, prop, expr in assigns:
        if prop.startswith("@"):
            return None  # label ops / entity copies → strict path
        dt = schema.get(alias)
        if not isinstance(dt, StructType) or "vid" not in dt.fieldNames() \
                or "@type" not in dt.fieldNames():
            return None
        per_alias.setdefault(alias, []).append((prop, expr))
    if not per_alias:
        return None
    ctx = Ctx(cypher=True, db=db, params=params or {},
              columns=tuple(df.columns), frame_schema=df.schema)
    comp = ExprCompiler(ctx)
    # compile + stage EVERY alias's update frame before writing anything
    # (statement atomicity — same rule as _try_frame_create)
    staged: list[tuple[list, DataFrame, list]] = []
    try:
        for alias, items in per_alias.items():
            cols = [comp.compile(e).alias(prop) for prop, e in items]
            upd = df.select(
                F.col(alias).getField("vid").alias("vid"),
                F.col(alias).getField("@type").alias("__lbl"),
                *cols,
            ).filter(F.col("vid").isNotNull())
            labels = [
                r["__lbl"]
                for r in upd.select("__lbl").distinct().collect()
            ]
            if any(lb is None for lb in labels):
                return None
            staged.append((labels, upd, [prop for prop, _ in items]))
    except Exception:
        return None  # the strict path re-raises real errors
    total = 0
    for labels, upd, props in staged:
        for lb in labels:
            total += g.update_vertices_from_frame(
                lb, upd.filter(F.col("__lbl") == lb).drop("__lbl"), props
            )
    return total


def _try_frame_create(db, g, p, df, params) -> "int | None":
    """Vectorized UNWIND/LOAD CSV → CREATE fast path: when every write is
    a pure single-node CREATE with frame-computable properties and no
    later clause references the created aliases, the whole write is ONE
    frame append per pattern (CreateStep.java frame semantics) — no
    per-row driver loop, no 10k row cap.  Returns the created count, or
    None when the shape needs the strict clause-at-a-time loop."""
    from pyspark.sql import functions as F

    from arcadedb_spark.sql.translator import Ctx, ExprCompiler, walk as _wk

    if getattr(p, "_write_return", None) is not None:
        return None
    if getattr(p, "_write_blocks", None):
        return None
    defined: set[str] = set()
    specs: list[tuple[str, tuple]] = []
    for w in p._writes:
        if w["kind"] != "create" or w.get("on_create") or w.get("on_match"):
            return None
        if w.get("body") is not None:
            return None
        for path in w["patterns"]:
            if path.steps or getattr(path, "path_alias", None):
                return None
            node = path.root
            if node.alias and (
                node.alias in defined or node.alias in df.columns
            ):
                return None  # rebinding → strict path raises properly
            if node.alias:
                defined.add(node.alias)
            specs.append((node.type_name or "_", node.props))
    if not specs:
        return None
    # property expressions must not read other created aliases and must
    # not embed patterns/subqueries (those need per-row evaluation)
    for _label, props in specs:
        for _k, e in props:
            for sub in _wk(e):
                if isinstance(sub, ast.Chain) and sub.parts[0] in defined:
                    return None
                if isinstance(sub, (ast.PatternExpr, ast.PatternComp)):
                    return None
    ctx = Ctx(cypher=True, db=db, params=params or {},
              columns=tuple(df.columns), frame_schema=df.schema)
    comp = ExprCompiler(ctx)
    # compile EVERY spec's property columns before persisting anything:
    # a later pattern failing to compile must not leave earlier patterns'
    # vertices behind (the strict fallback re-executes the whole
    # statement, which would double-create them)
    compiled: list[tuple[str, list]] = []
    try:
        for label, props in specs:
            compiled.append(
                (label, [comp.compile(e).alias(k) for k, e in props])
            )
    except Exception:
        return None  # the strict path re-raises real errors
    total = 0
    for label, cols in compiled:
        frame = df.select(
            g.frame_vid_col(g.mint_vid_block()).alias("vid"), *cols
        ).truncate_plan()
        total += g.append_vertex_frame(label, frame)
    return total


def _execute_writes(db, p: "CypherParser", params) -> DataFrame:
    """Write-statement wrapper: snapshot the graph state and roll back on
    ANY failure, so a statement that errors half-way (e.g. a later CREATE
    pattern that doesn't compile) persists nothing — the reference runs
    each command in a transaction."""
    g = db.graph()
    snap = g.snapshot()
    try:
        return _execute_writes_inner(db, p, params)
    except Exception:
        g.restore(snap)
        raise


def _execute_writes_inner(db, p: "CypherParser", params) -> DataFrame:
    from pyspark.sql import functions as F

    from arcadedb_spark.graph.match import combine_paths
    from arcadedb_spark.sql.translator import (
        Ctx, ExprCompiler, TranslateError, _contains_aggregate,
    )

    from arcadedb_spark.sql.translator import walk as _walk

    # a bare pattern is never a VALUE: SET rhs containing a PatternExpr
    # outside exists() is UnexpectedSyntax even on an empty match frame
    # (compile-time SyntaxError — TCK Pattern1[24])
    def _check_no_pattern_values(expr):
        def rec(x, under_exists=False):
            if (
                isinstance(x, ast.PatternExpr) and not under_exists
                and not x.subquery
            ):
                raise TranslateError(
                    "A pattern is not a value — wrap it in exists(…) "
                    "(UnexpectedSyntax)"
                )
            if hasattr(x, "__dataclass_fields__"):
                is_ex = (
                    isinstance(x, ast.FuncCall)
                    and x.name.lower() == "exists"
                )
                for f_ in x.__dataclass_fields__:
                    rec(getattr(x, f_), under_exists=is_ex)
            elif isinstance(x, (tuple, list)):
                for i_ in x:
                    rec(i_, under_exists=under_exists)
        rec(expr)

    for _w in getattr(p, "_writes", ()) or ():
        if _w.get("kind") == "set":
            for _a in _w.get("assignments", ()):
                _check_no_pattern_values(_a[2])  # (alias, prop, expr)

    g = db.graph()
    df = None
    aliases: set[str] = set()
    alias_label: dict[str, str] = {}
    # rel alias → (etype, src_node_alias, dst_node_alias, direction)
    rel_alias: dict[str, tuple] = {}
    if getattr(p, "_match_for_write", None):
        paths, where = p._match_for_write
        for path in paths:
            for node in [path.root] + [s.filter for s in path.steps]:
                if node.alias and node.type_name:
                    alias_label[node.alias] = node.type_name
            prev = path.root
            for s in path.steps:
                if s.edge_alias and s.max_hops == 1:
                    etype = s.edge_types[0] if s.edge_types else None
                    if s.method == "in":
                        ends = (s.filter.alias, prev.alias)
                    else:
                        ends = (prev.alias, s.filter.alias)
                    rel_alias[s.edge_alias] = (etype, *ends, s.method)
                prev = s.filter
    stage_df = None
    stage_aliases: set[str] = set()
    write_stages = getattr(p, "_write_stages", None) or []
    if write_stages:
        # UNWIND/WITH pipeline feeding the writes (Cypher clause
        # interleaving): lower the stages to a frame first
        from arcadedb_spark.sql import temporal as _T
        from arcadedb_spark.sql.temporal_eval import (
            pop_env, push_env, static_value,
        )

        env: dict = {}
        push_env(env)
        try:
            stage_df, stage_aliases = _lower_stage_frames(
                db, write_stages, params or {}, env, _T, static_value
            )
        finally:
            pop_env()
    if getattr(p, "_match_for_write", None):
        paths, where = p._match_for_write
        if paths or where is not None:
            df, aliases = combine_paths(
                db, paths, where, params or {},
                base=stage_df, base_aliases=stage_aliases,
            )
            # pattern-declared aliases count as bound even when the match
            # frame is empty (CREATE (a) after MATCH (a) must still be a
            # VariableAlreadyBound error on an empty graph)
            aliases = set(aliases) | {
                node.alias
                for path in paths
                for node in [path.root] + [s.filter for s in path.steps]
                if node.alias
            }
        else:
            df, aliases = stage_df, stage_aliases
    elif stage_df is not None:
        df, aliases = stage_df, stage_aliases
    def subst_write(w: dict, var: str, elem) -> dict:
        """Substitute a FOREACH loop variable through one write clause."""
        out = {}
        for k, v in w.items():
            if k == "body":
                out[k] = [subst_write(x, var, elem) for x in v]
            elif k in ("assignments", "on_create", "on_match"):
                out[k] = [(a, prop, _subst_var(e, var, elem)) for a, prop, e in v]
            elif k in ("patterns", "list"):
                out[k] = _subst_var(v, var, elem) if k == "list" else [
                    _subst_var(x, var, elem) for x in v
                ]
            else:
                out[k] = v
        return out

    def run_one(w) -> int:
        nonlocal df
        from arcadedb_spark.sql.litreg import value_of

        if w["kind"] == "foreach":
            # ForeachStep.java:53 — driver-side loop over the evaluated
            # list, loop variable substituted as a literal per element
            ctx = Ctx(cypher=True, db=db, params=params or {})
            lst = None
            col = None
            try:
                col = ExprCompiler(ctx).compile(w["list"])
                lst = value_of(col)
            except TranslateError:
                pass  # frame-bound list (references a WITH column)
            if (lst is None and df is not None) and (
                col is None or _mentions_frame_col(w["list"], df.columns)
            ):
                # frame-bound list (WITH collect(a) AS xs FOREACH (x IN
                # xs | …)): explode each row's list into a per-element
                # binding column and run the body against the widened
                # frame — fully distributed, no driver loop
                fctx = Ctx(cypher=True, db=db, params=params or {},
                           columns=tuple(df.columns),
                           frame_schema=df.schema)
                lcol = ExprCompiler(fctx).compile(w["list"])
                saved_df = df
                df = df.withColumn(w["var"], F.explode(lcol))
                try:
                    total = 0
                    for inner in w["body"]:
                        total += run_one(inner)
                finally:
                    df = saved_df
                return total
            if lst is None and col is not None:
                # not a registered literal — evaluate on a 1-row frame
                lst = db.spark.range(1).select(
                    col.alias("__l")
                ).collect()[0][0]
            total = 0
            for elem in (lst or []):
                # per-element binding scope: aliases created in one
                # FOREACH iteration must not alias-bind the next one
                mark = len(write_bindings)
                emark = len(edge_bindings)
                sub_elem = elem
                if hasattr(elem, "asDict"):
                    sub_elem = elem.asDict()
                if isinstance(sub_elem, dict) and "vid" not in sub_elem \
                        and {"etype", "src", "dst"} <= set(sub_elem):
                    # relationship element (FOREACH (r IN
                    # relationships(p) | DELETE r)): register an edge
                    # binding so DELETE r addresses (etype, src, dst)
                    edge_bindings.append((
                        w["var"], sub_elem.get("etype"),
                        sub_elem.get("src"), sub_elem.get("dst"),
                        {k: v for k, v in sub_elem.items()
                         if k not in ("etype", "src", "dst", "@eid",
                                      "__dir")},
                    ))
                if isinstance(sub_elem, dict) and "vid" in sub_elem:
                    # entity element (FOREACH (x IN collect(a) | …)):
                    # register the loop var as a binding so alias-target
                    # writes (DETACH DELETE x / SET x.p) address its vid;
                    # property refs in expressions substitute from the
                    # entity's map
                    write_bindings.append((
                        w["var"], sub_elem.get("@type"),
                        sub_elem.get("vid"),
                        {k: v for k, v in sub_elem.items()
                         if k not in ("vid", "@type")},
                    ))
                for inner in w["body"]:
                    total += run_one(subst_write(inner, w["var"], sub_elem))
                del write_bindings[mark:]
                del edge_bindings[emark:]
            return total
        n = 0
        if w["kind"] == "set":
            known = set(alias_label) | set(rel_alias)
            known |= {b[0] for b in write_bindings if b[0]}
            known |= set(aliases)
            if df is not None:
                known |= set(df.columns)
            _validate_set_assignments(w["assignments"], known, params)
            # label ops first (SET n:Label / REMOVE n:Label move the
            # vertex between label frames; single-label model)
            for alias, prop, expr in w["assignments"]:
                if prop not in ("@set_label", "@remove_label"):
                    continue
                if df is None:
                    raise TranslateError(
                        f"SET/REMOVE label on '{alias}' needs a MATCH"
                    )
                target = expr.value
                matched = df.select(
                    F.col(f"{alias}.vid").alias("vid")
                ).filter(F.col("vid").isNotNull())
                labels = _storage_keys(g, alias_label.get(alias))
                for lb in labels:
                    if prop == "@set_label":
                        n += g.set_label(lb, matched, target)
                    else:
                        n += g.remove_label(lb, matched, target)
            # group assignments per alias → one vertex-table rewrite each
            per_alias: dict[str, list] = {}
            for alias, prop, expr in w["assignments"]:
                if prop in ("@set_label", "@remove_label"):
                    continue
                per_alias.setdefault(alias, []).append((prop, expr))
            for alias, assigns in per_alias.items():
                copies = [
                    pe for pe in assigns
                    if pe[0] in ("@copy_entity", "@copy_entity_merge")
                ]
                if copies:
                    # SET n = m / n += m: literal RHS expands to per-key
                    # assignments; entity RHS copies frame-wise
                    rest = [pe for pe in assigns if pe not in copies]
                    lit_expanded = None
                    try:
                        lit_expanded = _expand_copy_entity(copies, params)
                    except Exception:
                        pass
                    if lit_expanded is not None:
                        assigns = lit_expanded + rest
                    else:
                        n += _apply_entity_copy_frame(
                            db, g, df, alias, copies, alias_label,
                            rel_alias, params,
                        )
                        assigns = rest
                        if not assigns:
                            continue
                replace_keys = None
                plain = []
                for prop, e in assigns:
                    if prop == "@replace_keys":
                        replace_keys = set(e.value)
                    else:
                        plain.append((prop, e))
                assigns = plain
                if alias in rel_alias and df is not None:
                    # SET on a relationship variable → edge rewrite keyed
                    # by the matched endpoint pairs (from the rel struct
                    # column when present, else the endpoint aliases)
                    etype, a_src, a_dst, direction = rel_alias[alias]
                    if alias in df.columns:
                        pairs = df.select(
                            F.col(f"{alias}.src").alias("src"),
                            F.col(f"{alias}.dst").alias("dst"),
                        ).filter(F.col("src").isNotNull())
                        direction = "out"  # struct carries the stored orientation
                    elif a_src is not None and a_dst is not None:
                        pairs = df.select(
                            F.col(f"{a_src}.vid").alias("src"),
                            F.col(f"{a_dst}.vid").alias("dst"),
                        )
                    else:
                        raise TranslateError(
                            f"SET on '{alias}' needs both endpoints aliased"
                        )
                    ecols = tuple((g.edges(etype) if etype else g.edges()).columns)
                    ctx = Ctx(db=db, params=params or {}, columns=ecols)
                    compiled = [
                        (prop, ExprCompiler(ctx).compile(_strip_alias(e, alias)))
                        for prop, e in assigns
                    ]
                    n += g.update_edges(
                        etype, pairs, compiled,
                        both_directions=(direction == "both"),
                    )
                    continue
                label = alias_label.get(alias)
                if df is None or (
                    alias not in df.columns
                    and any(b[0] == alias for b in write_bindings)
                ):
                    # SET on a variable bound by CREATE/MERGE in this
                    # pipeline (TCK Set1 [6]/[7], Unwind1[14]) — address
                    # its vids
                    binds = [
                        (lb_, vid_)
                        for (a_, lb_, vid_, _p) in write_bindings
                        if a_ == alias
                    ]
                    if not binds:
                        raise TranslateError(
                            f"SET target '{alias}' is not a match alias"
                        )
                    by_label: dict = {}
                    for lb_, vid_ in binds:
                        by_label.setdefault(lb_, []).append(vid_)
                    for blabel, vids in by_label.items():
                        matched = local_df(db.spark, [(v,) for v in vids], "vid long")
                        n += _apply_vertex_set(
                            db, g, matched, blabel, alias, assigns,
                            replace_keys, params,
                        )
                        # refresh the driver-side bindings so RETURN
                        # reads post-SET state (bounded: vids created in
                        # this statement)
                        fresh: dict = {}
                        for lb in _storage_keys(g, blabel):
                            for r_ in (
                                g.vertices(lb)
                                .filter(F.col("vid").isin(vids))
                                .collect()
                            ):
                                d_ = r_.asDict()
                                fresh[d_["vid"]] = {
                                    k: v for k, v in d_.items()
                                    if v is not None and k != "vid"
                                    and not k.startswith(("@", "__"))
                                }
                        for j, b_ in enumerate(write_bindings):
                            if b_[0] == alias and b_[2] in fresh:
                                write_bindings[j] = (
                                    b_[0], b_[1], b_[2], fresh[b_[2]]
                                )
                    continue
                matched = df.select(F.col(f"{alias}.vid").alias("vid")).filter(
                    F.col("vid").isNotNull()
                )
                n += _apply_vertex_set(
                    db, g, matched, label, alias, assigns, replace_keys,
                    params,
                )
            return n
        if w["kind"] == "delete":
            detach = w.get("detach", False)
            if df is None:
                raise TranslateError("DELETE needs a preceding MATCH")
            from pyspark.sql.types import StructType as _St

            def _target_kind(t):
                if not isinstance(t, str):
                    return "expr"
                if t in rel_alias and t in df.columns:
                    return "rel"
                if t in df.columns:
                    ftype = df.schema[t].dataType
                    if isinstance(ftype, _St):
                        if "vids" in ftype.names:
                            return "path"
                        if {"etype", "src", "dst"} <= set(ftype.names):
                            return "rel"
                return "node"

            def _check_deletable(vids_df, exclude_pairs=None):
                # plain DELETE of a vertex with surviving incident edges
                # is a ConstraintValidationFailed in Cypher — only DETACH
                # DELETE cascades (TCK Delete1)
                if detach:
                    return
                e = g.edges()
                inc = e.join(
                    vids_df.select(F.col("vid").alias("src")).distinct(),
                    "src", "left_semi",
                ).unionByName(
                    e.join(
                        vids_df.select(F.col("vid").alias("dst")).distinct(),
                        "dst", "left_semi",
                    ),
                    allowMissingColumns=True,
                )
                if exclude_pairs is not None:
                    x = exclude_pairs.select(
                        F.col("x").alias("__px"), F.col("y").alias("__py")
                    ).distinct()
                    cond = (
                        (inc["src"] == x["__px"]) & (inc["dst"] == x["__py"])
                    ) | (
                        (inc["src"] == x["__py"]) & (inc["dst"] == x["__px"])
                    )
                    inc = inc.join(x, cond, "left_anti")
                if inc.limit(1).count():
                    raise TranslateError(
                        "Cannot delete node — it still has relationships "
                        "(use DETACH DELETE)"
                    )

            # Cypher DELETE is clause-atomic: relationships named in the
            # same clause die before the incident-edge check on nodes
            deleted_aliases.update(
                t for t in w["targets"] if isinstance(t, str)
            )
            ordered = sorted(
                w["targets"],
                key=lambda t: 0 if _target_kind(t) == "rel" else 1,
            )
            for alias in ordered:
                kind = _target_kind(alias)
                if kind == "expr":
                    n += _delete_expression_target(
                        db, g, df, alias, params, detach=detach
                    )
                    continue
                if kind == "rel" and alias in rel_alias:
                    etype = rel_alias[alias][0]
                    pairs = df.select(
                        F.col(f"{alias}.src").alias("src"),
                        F.col(f"{alias}.dst").alias("dst"),
                    ).filter(F.col("src").isNotNull())
                    n += g.remove_edges(etype, pairs)
                    continue
                if kind == "rel":
                    # DELETE r where r bound a relationship struct but
                    # wasn't registered in rel_alias (e.g. projected
                    # through WITH): delete by stored type + endpoints
                    triples = df.select(
                        F.col(f"{alias}.etype").alias("etype"),
                        F.col(f"{alias}.src").alias("src"),
                        F.col(f"{alias}.dst").alias("dst"),
                    ).filter(F.col("src").isNotNull())
                    n += g.remove_edges_typed(triples)
                    continue
                if kind == "path":
                    # DELETE p on a path variable removes the path's own
                    # nodes and relationships; without DETACH, an incident
                    # edge from outside the path is a constraint error
                    vids_col = F.col(f"{alias}.vids")
                    matched = df.select(F.explode(vids_col).alias("vid"))
                    path_pairs = df.select(
                        F.explode(
                            F.arrays_zip(
                                F.slice(
                                    vids_col, 1, F.size(vids_col) - 1
                                ).alias("x"),
                                F.slice(
                                    vids_col, 2, F.size(vids_col) - 1
                                ).alias("y"),
                            )
                        ).alias("p")
                    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
                    _check_deletable(matched, exclude_pairs=path_pairs)
                    n += g.remove_vertices_any(matched)
                    continue
                label = alias_label.get(alias)
                ebinds = [b for b in edge_bindings if b[0] == alias]
                if alias not in df.columns and ebinds:
                    # DELETE on a relationship loop variable (FOREACH
                    # (r IN relationships(p) | DELETE r)) — the element
                    # registered as an edge binding; delete by
                    # (etype, src, dst)
                    triples = local_df(
                        db.spark,
                        [(b[1], b[2], b[3]) for b in ebinds],
                        "etype string, src long, dst long",
                    )
                    n += g.remove_edges_typed(triples)
                    continue
                if alias not in df.columns and any(
                    b[0] == alias for b in write_bindings
                ):
                    # DELETE on a variable bound by CREATE/MERGE in this
                    # statement: address its vids (TCK Delete4[3])
                    vids_b = [
                        vid_ for (a_, _lb, vid_, _p) in write_bindings
                        if a_ == alias
                    ]
                    matched = local_df(db.spark, [(v,) for v in vids_b], "vid long")
                    _check_deletable(matched)
                    n += g.remove_vertices_any(matched)
                    continue
                matched = df.select(F.col(f"{alias}.vid").alias("vid")).filter(
                    F.col("vid").isNotNull()
                )
                _check_deletable(matched)
                if label is None:
                    n += g.remove_vertices_any(matched)
                else:
                    n += g.remove_vertices(label, matched)
            return n
        for path in w["patterns"]:
            ref = [df]
            n += _apply_write(
                db, g, w["kind"], path, df, aliases, params,
                on_create=w.get("on_create", ()), on_match=w.get("on_match", ()),
                bindings=write_bindings, edge_bindings=edge_bindings,
                frame_ref=ref,
            )
            if ref[0] is not df:
                # frame-wise CREATE bound a new per-row entity column —
                # later clauses see it
                df = ref[0]
        return n

    write_bindings: list[tuple] = []
    edge_bindings: list[tuple] = []  # (alias, etype, src, dst, props)
    deleted_aliases: set[str] = set()  # DELETE targets of this statement
    match_paths = (getattr(p, "_match_for_write", None) or ((), None))[0]
    row_binds = None
    if write_stages and df is not None and not match_paths:
        fast_n = _try_frame_create(db, g, p, df, params)
        if fast_n is None:
            fast_n = _try_frame_set(db, g, p, df, params)
        if fast_n is not None:
            # write query without RETURN: empty result (TCK create)
            from pyspark.sql.types import StructType as _ST9

            return local_df(db.spark, [], _ST9([]))
        # stage-driven writes (UNWIND … CREATE …): one write pass per
        # frame row with the row's scalar columns substituted — the
        # driver-side bounded loop FOREACH already uses
        from pyspark.sql.types import StructType

        scalar_cols = [
            f.name for f in df.schema.fields
            if not isinstance(f.dataType, StructType)
            and not f.name.startswith("__")
        ]
        # frame-wise writes (DELETE over struct columns) run ONCE on the
        # whole frame — repeating them per row both multiplies work and
        # chains mutation plans (lineage blowup).  Clause order is
        # preserved (openCypher runs clause-at-a-time): the write list is
        # split at each frame-delete boundary, and every row-wise segment
        # completes across all rows before the delete fires.
        def _is_frame_delete(w) -> bool:
            return w["kind"] == "delete" and all(
                isinstance(t, str) and t not in scalar_cols
                for t in w["targets"]
            )

        segments: list[tuple[list, dict | None]] = []
        chunk: list = []
        for w in p._writes:
            if _is_frame_delete(w):
                segments.append((chunk, w))
                chunk = []
            else:
                chunk.append(w)
        segments.append((chunk, None))
        if not any(c for c, _ in segments):
            # every write is frame-wise (pure DELETE over struct columns):
            # no per-row pass is needed — skip the driver-side collect
            # entirely (no 10k cap for bulk MATCH…WITH…DELETE)
            rows = []
        else:
            rows = df.limit(10_001).collect()
            if len(rows) > 10_000:
                raise TranslateError(
                    "UNWIND/WITH-driven writes run per row driver-side; "
                    "the pipeline yields > 10000 rows. Use batch INSERT "
                    "for bulk loads."
                )
        n = 0
        row_binds = []
        per_row_binds: list[list] = [[] for _ in rows]
        per_row_ebinds: list[list] = [[] for _ in rows]
        # each pass runs with the frame scoped to ITS row: a bound-endpoint
        # CREATE reading the full frame would write one edge per frame row
        # on every pass (rows² duplication)
        full_df = df
        row_frames: list = [None] * len(rows)
        for chunk, fdel in segments:
            for i, r in enumerate(rows):
                if not chunk:
                    break
                # per-row binding scope (same rule as FOREACH): aliases
                # from one input row must not alias-bind the next, but a
                # row's own bindings persist across clause segments
                mark = len(write_bindings)
                emark = len(edge_bindings)
                write_bindings.extend(per_row_binds[i])
                edge_bindings.extend(per_row_ebinds[i])
                if row_frames[i] is None:
                    try:
                        row_frames[i] = local_df(
                            db.spark, [r], full_df.schema
                        )
                    except Exception:
                        # non-reconstructible row types (e.g. VARIANT):
                        # keep the full frame (pre-slicing behavior)
                        row_frames[i] = full_df
                df = row_frames[i]
                for w in chunk:
                    sub = w
                    for c in scalar_cols:
                        sub = subst_write(sub, c, r[c])
                    n += run_one(sub)
                row_frames[i] = df  # run_one may bind new entity columns
                per_row_binds[i] = list(write_bindings[mark:])
                per_row_ebinds[i] = list(edge_bindings[emark:])
                del write_bindings[mark:]
                del edge_bindings[emark:]
            df = full_df
            if fdel is not None:
                n += run_one(fdel)
        row_binds = [
            (r, per_row_binds[i], per_row_ebinds[i])
            for i, r in enumerate(rows)
        ]
        ret = getattr(p, "_write_return", None)
        if ret is not None and row_binds:
            from pyspark.sql import Row

            alias_keys: dict[str, set] = {}
            ekeys: dict[str, set] = {}
            for _, binds, ebinds in row_binds:
                for a, label, vid, props in binds:
                    if a:
                        alias_keys.setdefault(a, set()).update(props)
                for a, etype, sv, dv, props in ebinds:
                    ekeys.setdefault(a, set()).update(props)
            carry_cols = [c for c in df.columns if not c.startswith("__")]
            out_rows = []
            for r, binds, ebinds in row_binds:
                # carry every pipeline column (incl. bound node structs)
                # so RETURN can project matched aliases after the write
                d = {c: r[c] for c in carry_cols}
                for a, label, vid, props in binds:
                    if a:
                        d[a] = Row(**{
                            "vid": vid, "@type": label,
                            **{k: props.get(k) for k in sorted(alias_keys[a])},
                        })
                for a, etype, sv, dv, props in ebinds:
                    d[a] = Row(**{
                        "etype": etype, "src": sv, "dst": dv,
                        **{k: props.get(k) for k in sorted(ekeys[a])},
                    })
                out_rows.append(Row(**d))
            df = local_df(db.spark, out_rows)
        df = _refresh_set_aliases(
            db, g, df, p._writes, alias_label, rel_alias
        )
    else:
        n = sum(run_one(w) for w in p._writes)
        df = _refresh_set_aliases(
            db, g, df, p._writes, alias_label, rel_alias
        )
    # WITH-separated continuation blocks (Cypher clause interleaving):
    # run sequentially; each block's MATCH sees the post-write graph.
    # Cardinality deviation documented at _apply_write.
    for blk in getattr(p, "_write_blocks", None) or []:
        keep = blk["keep"]
        if keep != "*":
            # bare single-part-chain items pass entity bindings through
            # (renamed); expression items need a frame to project over
            renames = {
                it.expr.parts[0]: (it.alias or it.expr.parts[0])
                for it in keep
                if isinstance(it.expr, ast.Chain) and len(it.expr.parts) == 1
            }
            all_bare = len(renames) == len(keep)
            pre_bindings = list(write_bindings)
            write_bindings[:] = [
                (renames[a], label, vid, props)
                for (a, label, vid, props) in write_bindings
                if a in renames
            ]
            if df is not None and all_bare:
                cols = [
                    F.col(nm).alias(al)
                    for nm, al in renames.items()
                    if nm in df.columns
                ]
                df = df.select(*cols) if cols else None
            elif not all_bare:
                if df is None:
                    # no match frame: materialize the statement's single
                    # write bindings as a one-row frame so expression
                    # projections resolve (CREATE (m) WITH {x: m.id} AS m
                    # — TCK With4[7])
                    base_b = db.spark.range(1).select(
                        F.lit(1).alias("__one")
                    )
                    made = False
                    seen_b: set = set()
                    for (a_b, lb_b, vid_b, props_b) in pre_bindings:
                        if not a_b or a_b in seen_b:
                            continue
                        if sum(
                            1 for b in pre_bindings if b[0] == a_b
                        ) != 1:
                            continue
                        disp_b = g.label_display.get(lb_b.lower(), lb_b)
                        base_b = base_b.withColumn(
                            a_b,
                            F.struct(
                                F.lit(vid_b).alias("vid"),
                                F.lit(disp_b).alias("@type"),
                                *[F.lit(v).alias(k)
                                  for k, v in (props_b or {}).items()],
                            ),
                        )
                        seen_b.add(a_b)
                        made = True
                    if not made:
                        raise TranslateError(
                            "WITH expressions after a write need a "
                            "match frame"
                        )
                    df = base_b
                from arcadedb_spark.graph.match import project_stage

                items = [
                    ast.ProjItem(
                        it.expr,
                        it.alias or _bare_alias(it) or f"__w{i}",
                    )
                    for i, it in enumerate(keep)
                ]
                group_by: tuple = ()
                if any(_contains_aggregate(it.expr) for it in items):
                    group_by = tuple(
                        it.expr for it in items
                        if not _contains_aggregate(it.expr)
                    )
                df = project_stage(
                    db, df, items, params or {}, group_by=group_by
                )
                # expression projections (WITH list[i] AS n1) also bind
                # aliases the following clauses can reference
                renames.update({it.alias: it.alias for it in items})
            aliases = set(renames.values())
            alias_label = {
                renames[a]: l for a, l in alias_label.items() if a in renames
            }
            rel_alias = {
                renames[a]: v for a, v in rel_alias.items() if a in renames
            }
        if blk.get("where_post") is not None and df is not None:
            ctx = Ctx(cypher=True, db=db, params=params or {}, columns=tuple(df.columns))
            df = df.filter(ExprCompiler(ctx).compile(blk["where_post"]))
        m_paths, m_where = blk["match"]
        if m_paths or m_where is not None:
            for path in m_paths:
                for node in [path.root] + [s.filter for s in path.steps]:
                    if node.alias and node.type_name:
                        alias_label[node.alias] = node.type_name
                prev = path.root
                for s in path.steps:
                    if s.edge_alias and s.max_hops == 1:
                        etype = s.edge_types[0] if s.edge_types else None
                        if s.method == "in":
                            ends = (s.filter.alias, prev.alias)
                        else:
                            ends = (prev.alias, s.filter.alias)
                        rel_alias[s.edge_alias] = (etype, *ends, s.method)
                    prev = s.filter
            df, aliases = combine_paths(
                db, m_paths, m_where, params or {},
                base=df, base_aliases=aliases if df is not None else set(),
            )
        if blk.get("unwind") is not None:
            # UNWIND after a write: literal/param lists drive a bounded
            # per-element write pass (same driver-side rule as FOREACH)
            u_expr, u_alias = blk["unwind"]
            values = None
            try:
                values = _ast_literal(u_expr, params)
            except ValueError:
                if (
                    isinstance(u_expr, ast.FuncCall)
                    and u_expr.name.lower() == "range"
                ):
                    try:
                        rargs = [
                            _ast_literal(a, params) for a in u_expr.args
                        ]
                        lo, hi = int(rargs[0]), int(rargs[1])
                        st = int(rargs[2]) if len(rargs) > 2 else 1
                        values = list(
                            range(lo, hi + (1 if st > 0 else -1), st)
                        )
                    except ValueError:
                        values = None
            if values is None:
                # frame-dependent UNWIND expression (range over a frame
                # column, a projected list, …): explode onto the frame and
                # let the block's writes run frame-wise
                if df is None:
                    raise TranslateError(
                        "UNWIND after a write clause needs a literal list"
                    )
                ctx = Ctx(cypher=True, db=db, params=params or {},
                          columns=tuple(df.columns),
                          frame_schema=df.schema)
                df = df.withColumn(
                    u_alias, F.explode(ExprCompiler(ctx).compile(u_expr))
                )
                aliases = set(
                    c for c in df.columns if not c.startswith("__")
                )
                n += sum(run_one(w) for w in blk["writes"])
                df = _refresh_set_aliases(
                    db, g, df, blk["writes"], alias_label, rel_alias
                )
                continue
            if not isinstance(values, (list, tuple)):
                values = [values]
            if df is not None:
                df = df.withColumn(
                    u_alias, F.explode(F.array(*[F.lit(v) for v in values]))
                )
            # each UNWIND row rebinds the block's CREATE variables fresh:
            # bindings minted by earlier iterations are hidden while this
            # row runs (they stay recorded for later collect()s)
            nb_start = len(write_bindings)
            eb_start = len(edge_bindings)
            carried_nb: list = []
            carried_eb: list = []
            iter_binds: list = []
            for v in values:
                carried_nb.extend(write_bindings[nb_start:])
                del write_bindings[nb_start:]
                carried_eb.extend(edge_bindings[eb_start:])
                del edge_bindings[eb_start:]
                for w in blk["writes"]:
                    n += run_one(subst_write(w, u_alias, v))
                iter_binds.append((v, list(write_bindings[nb_start:])))
            if df is None and iter_binds:
                from pyspark.sql import Row

                # no frame yet: materialize the block's Cypher cardinality
                # — one row per UNWIND value carrying that row's fresh
                # bindings plus the earlier constant bindings (so a later
                # WITH … collect(n) stage has a frame to aggregate)
                const = list(write_bindings[:nb_start])
                # one unified struct schema for every entity column so
                # list operations over nodes ([a] + collect(n)) concat
                # without struct-cast conflicts; keys with mixed value
                # types across entities are stringified
                gkeys: set = set()
                ktypes: dict[str, set] = {}
                all_binds = [b for _, bs in iter_binds for b in bs] + const
                for a, label, vid, props in all_binds:
                    if a:
                        gkeys.update(props)
                        for k, pv in props.items():
                            if pv is not None:
                                ktypes.setdefault(k, set()).add(type(pv))
                mixed = {k for k, ts in ktypes.items() if len(ts) > 1}

                def _ent(label, vid, props):
                    return Row(**{
                        "vid": vid, "@type": label,
                        **{
                            k: (
                                str(props[k])
                                if k in mixed and props.get(k) is not None
                                else props.get(k)
                            )
                            for k in sorted(gkeys)
                        },
                    })

                out_rows = []
                for v, bs in iter_binds:
                    d = {u_alias: v}
                    for a, label, vid, props in const + bs:
                        if a:
                            d[a] = _ent(label, vid, props)
                    out_rows.append(Row(**d))
                df = local_df(db.spark, out_rows)
                aliases = set(df.columns)
            write_bindings[nb_start:nb_start] = carried_nb
            edge_bindings[eb_start:eb_start] = carried_eb
            continue
        n += sum(run_one(w) for w in blk["writes"])
        df = _refresh_set_aliases(
            db, g, df, blk["writes"], alias_label, rel_alias
        )
    ret = getattr(p, "_write_return", None)
    if ret is not None:
        from arcadedb_spark.graph.match import project_stage

        if df is not None:
            # relationship aliases written between bound endpoints become
            # struct columns so RETURN r / count(r) resolves
            # (MergeStep.java yields the merged relationship)
            all_specs = list(p._writes) + [
                w for blk in (getattr(p, "_write_blocks", None) or [])
                for w in blk["writes"]
            ]
            for w in all_specs:
                if w.get("kind") not in ("create", "merge"):
                    continue
                for path in w.get("patterns", ()):
                    # p = (a)-[:R]->(b): the write binds the path variable
                    # as a vid-level path struct (Merge1[13]/Merge5[10]);
                    # project_stage enriches it with entity payloads when
                    # RETURNed
                    pa = getattr(path, "path_alias", None)
                    chain_aliases = [path.root.alias] + [
                        s.filter.alias for s in path.steps
                    ]
                    if (
                        pa and pa not in df.columns
                        and all(a and a in df.columns for a in chain_aliases)
                    ):
                        df = df.withColumn(
                            pa,
                            F.struct(
                                F.array(*[
                                    F.col(f"{a}.vid") for a in chain_aliases
                                ]).alias("vids"),
                                F.lit(len(path.steps)).cast("int").alias(
                                    "n_rels"
                                ),
                            ),
                        )
                    prev_n = path.root
                    for s in path.steps:
                        ea, eb = prev_n.alias, s.filter.alias
                        prev_n = s.filter
                        if not s.edge_alias or s.edge_alias in df.columns:
                            continue
                        if s.method == "in":
                            ea, eb = eb, ea
                        if ea in df.columns and eb in df.columns:
                            etype = (
                                s.edge_types[0] if s.edge_types else "RELATED"
                            )
                            if etype in g.edge_meta:
                                # bind r to the STORED edges between the
                                # endpoints — one row per matching edge
                                # (parallel edges multiply, Merge5 [3];
                                # stored props ride along)
                                e_ = g.edges(etype)
                                es = F.struct(
                                    *[F.col(c) for c in e_.columns]
                                ).alias("__es")
                                sides = [e_.select(
                                    F.col("src").alias("__s0"),
                                    F.col("dst").alias("__d0"), es,
                                )]
                                if s.method == "both" or getattr(
                                    s, "_was_undirected", False
                                ):
                                    # undirected MERGE binds the stored
                                    # edge in EITHER orientation, with its
                                    # stored props (TCK Merge5 [13])
                                    sides.append(e_.select(
                                        F.col("dst").alias("__s0"),
                                        F.col("src").alias("__d0"), es,
                                    ))
                                upd = sides[0]
                                for fr_ in sides[1:]:
                                    upd = upd.unionByName(fr_)
                                for k, pe in s.edge_props or ():
                                    try:
                                        v_ = _ast_literal(pe, params)
                                    except ValueError:
                                        continue
                                    upd = upd.filter(
                                        F.col(f"__es.{k}") == F.lit(v_)
                                    )
                                df = (
                                    df.join(
                                        upd,
                                        (F.col(f"{ea}.vid")
                                         == F.col("__s0"))
                                        & (F.col(f"{eb}.vid")
                                           == F.col("__d0")),
                                        "inner",
                                    )
                                    .withColumn(
                                        s.edge_alias, F.col("__es")
                                    )
                                    .drop("__s0", "__d0", "__es")
                                )
                                continue
                            fields = [
                                F.lit(etype).alias("etype"),
                                F.col(f"{ea}.vid").alias("src"),
                                F.col(f"{eb}.vid").alias("dst"),
                            ]
                            pctx = Ctx(
                                db=db, params=params or {},
                                columns=tuple(df.columns),
                                frame_schema=df.schema,
                            )
                            for k, pe in s.edge_props or ():
                                # frame-referencing props compile against
                                # the frame; literals fold to constants
                                fields.append(
                                    ExprCompiler(pctx).compile(pe).alias(k)
                                )
                            df = df.withColumn(
                                s.edge_alias, F.struct(*fields)
                            )
            # MATCH … write … RETURN: project over the match frame (one
            # result row per matched row, Cypher cardinality).  Bound
            # node structs are refreshed from the post-write graph so
            # RETURN n after SET/REMOVE sees the new property values
            # (SetStep.java yields the updated record).
            if any(
                w.get("kind") in ("set", "remove", "merge", "foreach")
                for w in all_specs
            ):
                df = _refresh_node_structs(db, g, df)
            # reading properties/labels of entities DELETED in this
            # statement is an EntityNotFound error (TCK Return2[15-17]);
            # returning the deleted entity itself stays legal
            from arcadedb_spark.sql.translator import walk as _dwalk

            for it in ret["items"]:
                for nd in _dwalk(it.expr):
                    if (
                        isinstance(nd, ast.Chain) and len(nd.parts) > 1
                        and nd.parts[0] in deleted_aliases
                    ) or (
                        isinstance(nd, ast.FuncCall)
                        and nd.name.lower() in (
                            "labels", "properties", "keys")
                        and nd.args
                        and isinstance(nd.args[0], ast.Chain)
                        and nd.args[0].parts[0] in deleted_aliases
                    ):
                        raise TranslateError(
                            "Cannot read a deleted entity "
                            "(EntityNotFound)"
                        )
            # bind single-entity CREATE/MERGE variables the RETURN
            # references but the frame lacks (MATCH … DELETE … MERGE (a2)
            # RETURN a2 — TCK Merge1[14]): constant struct columns
            from arcadedb_spark.sql.translator import walk as _rwalk

            ret_heads = {
                nd.parts[0]
                for it in ret["items"]
                for nd in _rwalk(it.expr)
                if isinstance(nd, ast.Chain)
            }
            for b_alias in ret_heads:
                if b_alias in df.columns:
                    continue
                binds_r = [
                    b for b in write_bindings if b[0] == b_alias
                ]
                if len({b[2] for b in binds_r}) != 1:
                    continue
                _a, lb_r, vid_r, props_r = binds_r[0]
                disp_r = g.label_display.get(lb_r.lower(), lb_r)
                df = df.withColumn(
                    b_alias,
                    F.struct(
                        F.lit(vid_r).alias("vid"),
                        F.lit(disp_r).alias("@type"),
                        *[F.lit(v).alias(k)
                          for k, v in (props_r or {}).items()],
                    ),
                )
            group_by: tuple = ()
            if any(_contains_aggregate(i.expr) for i in ret["items"]):
                group_by = tuple(
                    i.expr for i in ret["items"]
                    if not _contains_aggregate(i.expr)
                )
            return project_stage(
                db, df, ret["items"], params or {}, distinct=ret["distinct"],
                group_by=group_by, order_by=ret["order_by"],
                skip=ret["skip"], limit=ret["limit"],
                order_scope="strict" if ret["distinct"] else None,
            )
        # one result row; each created/matched alias is a struct column
        # (vid + literal props), so RETURN a.x compiles like a match frame
        cols = []
        seen = set()
        for alias, label, vid, props in write_bindings:
            if alias is None or alias in seen:
                continue
            seen.add(alias)
            fields = [F.lit(vid).alias("vid"), F.lit(label).alias("@type")]
            for k, v in props.items():
                fields.append(F.lit(v).alias(k))
            cols.append(F.struct(*fields).alias(alias))
        for alias, etype, srcv, dstv, eprops in edge_bindings:
            if alias in seen:
                continue
            seen.add(alias)
            fields = [
                F.lit(etype).alias("etype"),
                F.lit(srcv).alias("src"), F.lit(dstv).alias("dst"),
            ]
            for k, v in eprops.items():
                fields.append(F.lit(v).alias(k))
            cols.append(F.struct(*fields).alias(alias))
        # p = (a)-[:R]->(b) in a standalone write: bind the path variable
        # over the written entities' vids (Merge1[13]/Merge5[10]); entity
        # payloads attach in project_stage when RETURNed
        used_anon: set = set()

        def _vid_for(a, label):
            if a:
                return next(
                    (b[2] for b in write_bindings if b[0] == a), None
                )
            # anonymous node: consume bindings positionally (creation
            # order matches pattern order), label-checked when declared
            for i_, b in enumerate(write_bindings):
                if i_ in used_anon or b[0] is not None:
                    continue
                if label and b[1] and b[1].lower() != label.lower():
                    continue
                used_anon.add(i_)
                return b[2]
            return None

        for w in p._writes:
            if w.get("kind") not in ("create", "merge"):
                continue
            for path in w.get("patterns", ()):
                pa = getattr(path, "path_alias", None)
                if not pa or pa in seen:
                    continue
                chain = [(path.root.alias, path.root.type_name)] + [
                    (s.filter.alias, s.filter.type_name)
                    for s in path.steps
                ]
                vids = []
                for a, lbl in chain:
                    vb = _vid_for(a, lbl)
                    if vb is None:
                        break
                    vids.append(vb)
                else:
                    seen.add(pa)
                    cols.append(
                        F.struct(
                            F.array(
                                *[F.lit(v).cast("long") for v in vids]
                            ).alias("vids"),
                            F.lit(len(path.steps)).cast("int").alias(
                                "n_rels"
                            ),
                        ).alias(pa)
                    )
        if not cols:
            raise TranslateError("RETURN after write needs node aliases")
        frame = db.spark.range(1).select(*cols)
        from arcadedb_spark.sql.translator import _contains_aggregate

        group_by: tuple = ()
        if any(_contains_aggregate(i.expr) for i in ret["items"]):
            group_by = tuple(
                i.expr for i in ret["items"] if not _contains_aggregate(i.expr)
            )
        return project_stage(
            db, frame, ret["items"], params or {}, distinct=ret["distinct"],
            group_by=group_by, order_by=ret["order_by"],
            skip=ret["skip"], limit=ret["limit"],
            order_scope="strict" if ret["distinct"] else None,
        )
    # Cypher semantics: a write query without RETURN yields an empty
    # result (TCK clauses/create "the result should be empty"); mutation
    # counts surface via the SQL DML path, not Cypher
    from pyspark.sql.types import StructType

    return local_df(db.spark, [], StructType([]))


def lower_exists_block(db, text: str, outer_df, params: dict):
    """Lower a full-query EXISTS { MATCH … WITH … RETURN … } block to a
    correlated frame (TCK ExistentialSubquery2/3).

    The outer frame's bound aliases SEED the block's matching (base
    frame), so nested blocks see variables from any enclosing scope; the
    final RETURN is irrelevant to existence and is discarded.  Lowered
    once per block — the caller joins the frame back on the shared
    aliases, never a correlated per-row subplan."""
    from arcadedb_spark.graph.match import combine_paths
    from arcadedb_spark.sql import temporal as _T
    from arcadedb_spark.sql.temporal_eval import (
        pop_env, push_env, static_value,
    )

    p = CypherParser(text, params)
    stmts = p.parse_query()
    stmt, stages = stmts[0]
    if stmt is None:
        from arcadedb_spark.sql.translator import TranslateError

        # write clauses inside EXISTS { … } (TCK ExistentialSubquery2[3])
        raise TranslateError(
            "An EXISTS subquery cannot contain update clauses "
            "(InvalidClauseComposition)"
        )
    base = None
    base_aliases: set = set()
    if outer_df is not None:
        keep = [
            c for c in outer_df.columns
            if not c.startswith(("__", "@"))
        ]
        if keep:
            base = outer_df.select(*keep)
            base_aliases = set(keep)
    env: dict = {}
    push_env(env)
    try:
        df, aliases = _lower_stage_frames(
            db, stages, params or {}, env, _T, static_value,
            base=base, base_aliases=base_aliases,
        )
        df, seen = combine_paths(
            db, stmt.paths, stmt.where, params or {},
            base=df, base_aliases=aliases,
        )
    finally:
        pop_env()
    return df, seen


def _lower_value_block(db, text: str, outer_df, params: dict, want: str):
    """Shared lowering for COUNT/COLLECT { … } subquery expressions
    (Cypher25Parser.g4 countExpression/collectExpression).

    Same decorrelated shape as EXISTS blocks — the block runs ONCE seeded
    with the outer frame's bound aliases and is grouped/joined back on the
    shared keys, never per outer row.  Returns (frame, aliases, value
    Columns, order (Column, asc)|None, distinct)."""
    from arcadedb_spark.graph.match import (
        attach_entity_lookups, attach_pattern_markers, combine_paths,
    )
    from arcadedb_spark.sql import temporal as _T
    from arcadedb_spark.sql.temporal_eval import (
        pop_env, push_env, static_value,
    )
    from arcadedb_spark.sql.translator import (
        Ctx, ExprCompiler, TranslateError, _contains_aggregate,
    )

    try:
        p = CypherParser(text, params)
        stmts = p.parse_query()
    except ParseError:
        if want != "count":
            raise
        # COUNT body without a RETURN (COUNT { UNWIND [1,2] AS y } —
        # Issue5715): counting rows is RETURN-invariant, append one
        p = CypherParser(text + " RETURN 1 AS __cnt1", params)
        stmts = p.parse_query()
    stmt, stages = stmts[0]
    if stmt is None:
        raise TranslateError(
            f"A {want.upper()} subquery cannot contain update clauses "
            "(InvalidClauseComposition)"
        )
    if want == "collect" and len(stmt.returns) != 1:
        raise TranslateError(
            "A COLLECT subquery must RETURN exactly one column"
        )
    from pyspark.sql import functions as _F9

    if (
        want == "count" and stmt.returns
        and all(_contains_aggregate(r.expr) for r in stmt.returns)
        and stmt.limit is None and stmt.skip is None
    ):
        # aggregate-only RETURN yields exactly ONE row whatever the
        # input (count over empty input is still a row) — COUNT { …
        # RETURN count(m) } = 1 (Issue5715
        # countOverABodyThatDoesNotProduceOneRowPerMatch)
        return (
            db.spark.range(1).select(_F9.lit(1).alias("__c1")),
            set(), [], None, False, False,
        )
    collect_agg = None
    for r in stmt.returns:
        if _contains_aggregate(r.expr):
            if (
                want == "collect" and len(stmt.returns) == 1
                and isinstance(r.expr, ast.FuncCall)
                and not stmt.order_by
            ):
                # COLLECT { … RETURN count(m) }: the block aggregates per
                # shared key and the collected list is [aggregate]
                collect_agg = r.expr
            else:
                raise TranslateError(
                    f"Aggregates inside {want.upper()} {{ … }} are not "
                    "supported — aggregate over the result instead"
                )
    base = None
    base_aliases: set = set()
    if outer_df is not None:
        keep = [
            c for c in outer_df.columns if not c.startswith(("__", "@"))
        ]
        if keep:
            base = outer_df.select(*keep)
            base_aliases = set(keep)
    env: dict = {}
    push_env(env)
    try:
        df, aliases = _lower_stage_frames(
            db, stages, params or {}, env, _T, static_value,
            base=base, base_aliases=base_aliases,
        )
        if not stmt.paths and stmt.where is None:
            # match-less body (COUNT { RETURN 1 } / pure UNWIND): the
            # stage frame (or a one-row seed) IS the row set
            if df is None:
                from pyspark.sql import functions as F

                df = db.spark.range(1).select(F.lit(1).alias("__one"))
            seen = set(aliases)
        else:
            df, seen = combine_paths(
                db, stmt.paths, stmt.where, params or {},
                base=df, base_aliases=aliases,
            )
        # the RETURN values (and ORDER BY key) compile against the block
        # frame; nested pattern expressions inside them resolve here
        exprs = [r.expr for r in stmt.returns] + [
            o.expr for o in (stmt.order_by or ())
        ]
        inner_m: dict = {}
        df = attach_pattern_markers(db, df, exprs, params or {}, inner_m, [])
        df = attach_entity_lookups(db, df, exprs, params or {}, inner_m)
        ctx = Ctx(
            cypher=True, db=db, params=params or {},
            columns=tuple(df.columns), frame_schema=df.schema,
            precompiled=inner_m,
        )
        comp = ExprCompiler(ctx)
        if collect_agg is not None:
            from pyspark.sql import functions as F

            from arcadedb_spark.sql.functions import AGGREGATES

            nm = collect_agg.name.lower()
            if nm not in AGGREGATES:
                raise TranslateError(
                    f"Aggregates inside {want.upper()} {{ … }} are not "
                    "supported — aggregate over the result instead"
                )
            aargs = [
                F.lit(1) if isinstance(a, ast.Star) else comp.compile(a)
                for a in collect_agg.args
            ] or [F.lit(1)]
            vals = [AGGREGATES[nm](aargs, collect_agg.distinct)]
        else:
            vals = [comp.compile(r.expr) for r in stmt.returns]
        order = None
        if stmt.order_by and want == "collect":
            if len(stmt.order_by) > 1:
                raise TranslateError(
                    "COLLECT { … ORDER BY } supports one sort key"
                )
            o = stmt.order_by[0]
            order = (comp.compile(o.expr), o.ascending)
        if want == "count" and (
            stmt.limit is not None or stmt.skip is not None
        ):
            # SKIP/LIMIT change the counted row set (Issue5715: COUNT {
            # … RETURN m LIMIT 7 } = 7).  Uncorrelated: materialize the
            # body rows and bound them here; correlated would need a
            # per-key window — typed reject instead of a silent
            # unbounded count.
            if base is not None:
                raise TranslateError(
                    "SKIP/LIMIT inside a correlated COUNT { … } body is "
                    "not supported — apply it in the outer query"
                )
            from pyspark.sql import functions as F

            from arcadedb_spark.sql.translator import _safe_distinct

            bdf = (
                df.select(*[
                    c.alias(f"__cv{i}") for i, c in enumerate(vals)
                ]) if vals else df.select(F.lit(1).alias("__cv0"))
            )
            if stmt.distinct:
                bdf = _safe_distinct(bdf)
            if stmt.skip is not None:
                bdf = bdf.offset(int(_ast_literal(stmt.skip, params)))
            if stmt.limit is not None:
                bdf = bdf.limit(int(_ast_literal(stmt.limit, params)))
            return bdf, set(), [], None, False, False
    finally:
        pop_env()
    return df, seen, vals, order, stmt.distinct, collect_agg is not None


def lower_collect_block(db, text: str, outer_df, params: dict):
    """COLLECT { … RETURN expr } → (frame, aliases, value Column,
    order, distinct, is_agg); the caller collect_lists per shared key
    (or, for an aggregated RETURN, aggregates per key and wraps the
    scalar in a one-element list)."""
    df, seen, vals, order, dist, is_agg = _lower_value_block(
        db, text, outer_df, params, "collect"
    )
    return df, seen, vals[0], order, dist, is_agg


def lower_count_block(db, text: str, outer_df, params: dict):
    """COUNT { … [RETURN [DISTINCT] …] } → (frame, aliases, value
    Columns (empty when no RETURN), distinct); with RETURN DISTINCT the
    caller counts distinct value tuples per key, else rows."""
    df, seen, vals, _order, dist, _ia = _lower_value_block(
        db, text, outer_df, params, "count"
    )
    return df, seen, vals, dist


def _cypher_schema_ddl(db, p: "CypherParser", text: str,
                       params: dict) -> DataFrame:
    """Neo4j-style schema DDL on the Cypher surface (reference
    CypherMultiLabelConstraintReloadTest / CypherQueryStatisticsTest):

    - CREATE [RANGE|TEXT|POINT|LOOKUP] INDEX [name] [IF NOT EXISTS]
      FOR (n:Label) ON (n.p1[, n.p2 …])
    - CREATE CONSTRAINT [name] [IF NOT EXISTS] FOR (n:Label)
      REQUIRE n.p IS UNIQUE | IS NOT NULL | IS TYPED <type>
    - DROP CONSTRAINT|INDEX name [IF EXISTS]

    Indexes are execution no-ops on Spark (scan+pushdown replaces them)
    but register in the catalog like SQL CREATE INDEX; NOT NULL / TYPED
    constraints update the declared-property map so INSERT re-validates
    when the label is a catalog type."""
    action = p.advance().value.upper()  # CREATE | DROP
    kindtok = str(p.advance().value).upper()
    if kindtok in ("RANGE", "TEXT", "POINT", "LOOKUP"):
        p.advance()  # INDEX
        kindtok = "INDEX"

    def _one_row(**cols):
        vals = tuple(None if v is None else str(v) for v in cols.values())
        schema = ", ".join(f"`{k}` string" for k in cols)
        return local_df(db.spark, [vals], schema)

    if action == "DROP":
        name = p.ident()
        if p._at_ident("IF"):
            p.advance()
            p.advance()  # EXISTS
        dropped = db.schema.indexes.pop(name, None) is not None
        return _one_row(operation=f"drop {kindtok.lower()}", name=name,
                        dropped=dropped)
    name = None
    if p.cur.kind == "IDENT" and p.cur.value.upper() not in ("IF", "FOR"):
        name = p.ident()
    if p._at_ident("IF"):
        p.advance()
        p.advance()  # NOT
        p.advance()  # EXISTS
        if name is not None and name in db.schema.indexes:
            return _one_row(operation="noop", name=name)
    if not p._at_ident("FOR"):
        raise ParseError(f"Expected FOR in CREATE {kindtok}")
    p.advance()
    p.expect_op("(")
    is_rel = False
    if p.at_op(")"):
        # relationship target ()-[r:TYPE]-() — constraint/index on an
        # edge type
        p.advance()
        p.expect_op("-")
        p.expect_op("[")
        if p.cur.kind == "IDENT":
            p.ident()  # rel variable (unused)
        if p.cur.kind == "PARAM":
            label = p.advance().value
        else:
            p.expect_op(":")
            label = p.ident()
        p.expect_op("]")
        p.expect_op("-")
        if p.at_op(">"):
            p.advance()
        p.expect_op("(")
        p.expect_op(")")
        is_rel = True
    else:
        var = p.ident()
        label = p.advance().value if p.cur.kind == "PARAM" else None
        if label is None:
            p.expect_op(":")
            label = p.ident()
        while p.cur.kind == "PARAM" or p.at_op(":"):
            # multi-label constraint target — recorded per label
            if p.cur.kind == "PARAM":
                label = f"{label}:{p.advance().value}"
            else:
                p.advance()
                label = f"{label}:{p.ident()}"
        p.expect_op(")")
        _ = var

    def _props_list() -> list[str]:
        props = []
        paren = p.eat_op("(")
        while True:
            a = p.ident()
            if p.at_op("."):
                p.advance()
                props.append(p.ident())
            else:
                props.append(a)
            if not p.eat_op(","):
                break
        if paren:
            p.expect_op(")")
        return props

    if kindtok == "INDEX":
        if not p._at_ident("ON"):
            raise ParseError("Expected ON in CREATE INDEX FOR")
        p.advance()
        props = _props_list()
        key = name or f"{label}[{','.join(props)}]"
        db.schema.indexes[key] = {
            "type": label, "props": tuple(props), "kind": "notunique",
        }
        return _one_row(operation="create index", name=key, type=label,
                        properties=",".join(props))
    # CONSTRAINT … REQUIRE
    if not p._at_ident("REQUIRE"):
        raise ParseError("Expected REQUIRE in CREATE CONSTRAINT")
    p.advance()
    props = _props_list()
    if not p.at_kw("IS"):
        raise ParseError("Expected IS <UNIQUE|NOT NULL|TYPED> in REQUIRE")
    p.advance()
    kind = None
    type_name = None
    if p._at_ident("UNIQUE"):
        p.advance()
        kind = "unique"
    elif p.at_kw("NOT") or p._at_ident("NOT"):
        p.advance()
        p.advance()  # NULL
        kind = "notnull"
    elif p._at_ident("TYPED") or p.at_op("::"):
        if p._at_ident("TYPED"):
            p.advance()
        else:
            p.advance()
        parts = []
        while p.cur.kind in ("IDENT", "KEYWORD") or p.at_op("<") \
                or p.at_op(">"):
            parts.append(str(p.advance().value))
        type_name = " ".join(parts)
        kind = "typed"
    elif p._at_ident("NODE") or p._at_ident("RELATIONSHIP") \
            or p._at_ident("REL"):
        # IS NODE KEY / IS RELATIONSHIP KEY — composite unique + notnull
        p.advance()
        if not (p.cur.kind in ("IDENT", "KEYWORD")
                and str(p.cur.value).upper() == "KEY"):
            raise ParseError("Expected KEY after IS NODE/RELATIONSHIP")
        p.advance()
        kind = "key"
    else:
        raise ParseError(
            "Constraint must be IS UNIQUE, IS NOT NULL, IS TYPED or "
            "IS NODE/RELATIONSHIP KEY"
        )
    _ = is_rel
    key = name or f"constraint:{label}[{','.join(props)}]:{kind}"
    db.schema.indexes[key] = {
        "type": label, "props": tuple(props), "kind": kind,
        "constraint": True, **({"value_type": type_name} if type_name
                               else {}),
    }
    # best-effort declared-property update so SQL INSERT re-validates
    for lbl in label.split(":"):
        if db.schema.exists(lbl) and kind == "notnull":
            declared = db.schema.get(lbl).properties.setdefault(
                "declared", {}
            )
            for pr in props:
                declared.setdefault(pr, {})["notnull"] = True
    return _one_row(operation="create constraint", name=key, type=label,
                    properties=",".join(props), kind=kind)


def cypher_query(db, text: str, params: dict | None = None) -> DataFrame:
    """Run a Cypher query → DataFrame (OpenCypherQueryEngine.query analog,
    query/opencypher/query/OpenCypherQueryEngine.java:150)."""
    p = CypherParser(text, params)
    if p._at_ident("CREATE") or p._at_ident("DROP"):
        nxt = p.peek()
        v1 = str(nxt.value).upper() if nxt.kind in ("IDENT", "KEYWORD") \
            else ""
        if v1 in ("VERTEX", "EDGE", "DOCUMENT", "TYPE", "PROPERTY",
                  "TIMESERIES", "MATERIALIZED", "GRAPH"):
            # SQL DDL through the Cypher surface — the reference accepts
            # its schema DDL from any query language endpoint
            from arcadedb_spark.sql.commands import execute_command
            from arcadedb_spark.sql.parser import parse as _sql_parse

            return execute_command(db, _sql_parse(text), params or {})
        if v1 == "CONSTRAINT" or v1 == "INDEX" or (
            v1 in ("RANGE", "TEXT", "POINT", "LOOKUP")
            and p.peek(2).kind in ("IDENT", "KEYWORD")
            and str(p.peek(2).value).upper() == "INDEX"
        ):
            import re as _re

            if v1 == "INDEX" and not _re.search(
                r"\bFOR\s*\(", text, _re.IGNORECASE
            ):
                # SQL-form CREATE INDEX name ON Type (props) [kind] —
                # delegate like the other SQL DDL heads
                from arcadedb_spark.sql.commands import execute_command
                from arcadedb_spark.sql.parser import parse as _sql_parse

                return execute_command(db, _sql_parse(text), params or {})
            return _cypher_schema_ddl(db, p, text, params or {})
    def _is_scoped_call_subquery() -> bool:
        # leading scoped CALL (a, b) { … } / CALL () { … } — a subquery,
        # not a procedure call: the token after the matching ')' is '{'
        if not (p.peek().kind == "OP" and p.peek().value == "("):
            return False
        depth = 0
        j = p.i + 1
        while j < len(p.tokens) and p.tokens[j].kind != "EOF":
            t = p.tokens[j]
            if t.kind == "OP" and t.value == "(":
                depth += 1
            elif t.kind == "OP" and t.value == ")":
                depth -= 1
                if depth == 0:
                    nxt = p.tokens[j + 1] if j + 1 < len(p.tokens) else None
                    return (nxt is not None and nxt.kind == "OP"
                            and nxt.value == "{")
            j += 1
        return False

    if p._at_ident("CALL") and not (
        p.peek().kind == "OP" and p.peek().value == "{"
    ) and not _is_scoped_call_subquery():
        from arcadedb_spark.graph.match import project_stage
        from arcadedb_spark.graph.procedures import call_procedure
        from arcadedb_spark.sql.translator import _contains_aggregate
        from pyspark.sql import functions as F

        spec = p.parse_call()
        if p.cur.kind != "EOF":
            # CALL … YIELD … WITH/MATCH …: a pipeline, not a standalone
            # call — reparse through the normal stage machinery
            p = CypherParser(text, params)
            spec = None
        if spec is not None:
            if spec["return"] is not None and not spec["parens"]:
                # CALL … YIELD … RETURN is an in-query call; implicit
                # argument passing is standalone-only (openCypher
                # InvalidArgumentPassingMode, TCK Call2[4])
                from arcadedb_spark.sql.translator import TranslateError

                raise TranslateError(
                    "In-query procedure calls must use explicit "
                    "arguments — implicit CALL is standalone-only"
                )
            df = call_procedure(
                db, spec["proc"], spec["args"],
                params=params, implicit=not spec["parens"],
            )
            if spec["yields"]:
                df = df.select(
                    *[F.col(c).alias(a) for c, a in spec["yields"]]
                )
            ret = spec["return"]
            if ret is None:
                return df
            if df.columns and (spec["star"] or not spec["yields"]):
                from arcadedb_spark.sql.translator import TranslateError

                raise TranslateError(
                    f"CALL {spec['proc']} followed by RETURN must YIELD "
                    "its outputs explicitly"
                )
            group_by: tuple = ()
            if any(_contains_aggregate(i.expr) for i in ret["items"]):
                group_by = tuple(
                    i.expr for i in ret["items"]
                    if not _contains_aggregate(i.expr)
                )
            return project_stage(
                db, df, ret["items"], params or {}, distinct=ret["distinct"],
                group_by=group_by, order_by=ret["order_by"],
                skip=ret["skip"], limit=ret["limit"],
                order_scope="strict" if ret["distinct"] else None,
            )
    stmts = p.parse_query()
    if p.cur.kind != "EOF":
        raise ParseError(f"Trailing input at {p.cur!r}")
    if any(stmt is None for stmt, _ in stmts):
        if len(stmts) > 1:
            raise ParseError("Write clauses cannot be combined with UNION")
        return _execute_writes(db, p, params)
    out = None
    union_all = getattr(p, "_union_all", False)
    for stmt, stages in stmts:
        df = _translate_pipeline(db, stmt, stages, params or {})
        out = df if out is None else out.unionByName(df)
    if out is not None and len(stmts) > 1 and not union_all:
        from arcadedb_spark.sql.translator import _safe_distinct

        out = _safe_distinct(out)
    return out
