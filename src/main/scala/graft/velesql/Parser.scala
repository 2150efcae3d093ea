package graft.velesql

import scala.util.parsing.combinator.RegexParsers
import Ast._

/** VelesQL parser — a parser-combinator rendering of the reference's pest
  * grammar (crates/velesdb-core/src/velesql/grammar.pest, ~250 lines).
  * Case-insensitive keywords, `--` line comments, quoted identifiers
  * (backtick + doublequote with `""` escape — grammar.pest:236-253),
  * `$param` binding, and the full clause set: SELECT core, WHERE condition
  * tree (OR < AND precedence — grammar.pest:141-143), NEAR / NEAR_FUSED /
  * similarity() / MATCH text search, joins, GROUP BY / HAVING, ORDER BY
  * (columns, aggregates, similarity), LIMIT / OFFSET, WITH options, USING
  * FUSION, compound set operators, and Cypher-subset MATCH patterns.
  */
object Parser extends RegexParsers {

  override protected val whiteSpace = """(\s|--[^\n]*)+""".r

  /** Case-insensitive keyword that must not run into an identifier char. */
  private def K(word: String): Parser[String] =
    s"""(?i)${java.util.regex.Pattern.quote(word)}(?![A-Za-z0-9_])""".r ^^ (_.toUpperCase)

  // ---- identifiers (grammar.pest:232-253)
  private val regularIdent: Parser[String] = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val backtickIdent: Parser[String] = "`" ~> """[^`]+""".r <~ "`"
  private val doublequoteIdent: Parser[String] =
    "\"" ~> """(?:[^"]|"")*""".r <~ "\"" ^^ (_.replace("\"\"", "\""))
  val identifier: Parser[String] = backtickIdent | doublequoteIdent | regularIdent

  private val reserved = Set("FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "WITH", "USING", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "ON",
    "AS", "AND", "OR", "NOT", "IN", "BETWEEN", "LIKE", "ILIKE", "IS", "NULL",
    "UNION", "INTERSECT", "EXCEPT", "ALL", "DISTINCT", "SELECT", "BY", "ASC",
    "DESC", "RETURN", "MATCH", "TRUE", "FALSE")
  /** Identifier that isn't a reserved word (unless quoted). */
  private val bareIdent: Parser[String] =
    backtickIdent | doublequoteIdent |
      Parser { in =>
        regularIdent(in) match {
          case Success(s, next) if reserved(s.toUpperCase) => Failure(s"reserved: $s", in)
          case other => other
        }
      }

  /** Path segment with optional array index: `items[0]` (json_path.rs:36-61). */
  private val pathSegment: Parser[String] =
    identifier ~ opt("[" ~> """\d+""".r <~ "]") ^^ {
      case id ~ idx => id + idx.map(i => s"[$i]").getOrElse("")
    }
  private val columnName: Parser[String] =
    rep1sep(pathSegment, ".") ^^ (_.mkString("."))
  private val bareColumnName: Parser[String] =
    Parser { in =>
      (bareIdent ~ opt("[" ~> """\d+""".r <~ "]") ~ rep("." ~> pathSegment))(in)
    } ^^ { case h ~ idx ~ t =>
      ((h + idx.map(i => s"[$i]").getOrElse("")) +: t).mkString(".")
    }

  // ---- literals (grammar.pest:224-231)
  private val floatLit: Parser[Double] = """-?\d+\.\d+""".r ^^ (_.toDouble)
  private val intLit: Parser[Long] = """-?\d+""".r ^^ (_.toLong)
  private val stringLit: Parser[String] = "'" ~> """[^']*""".r <~ "'"
  private val boolLit: Parser[Boolean] = (K("TRUE") ^^^ true) | (K("FALSE") ^^^ false)
  private val paramRef: Parser[String] = "$" ~> regularIdent

  // ---- temporal (grammar.pest:219-228; eval ast/values.rs:91-163)
  private val nowFn: Parser[Temporal] = K("NOW") ~ "(" ~ ")" ^^^ Now
  private val intervalExpr: Parser[Temporal] = K("INTERVAL") ~> stringLit ^^ Interval.apply
  private val temporalAtom: Parser[Temporal] = nowFn | intervalExpr
  private val temporalExpr: Parser[Temporal] =
    temporalAtom ~ opt(("+" | "-") ~ temporalAtom) ^^ {
      case l ~ None => l
      case l ~ Some(op ~ r) => TemporalArith(l, op.head, r)
    }

  // ---- values (grammar.pest:216)
  lazy val value: Parser[Value] =
    subqueryValue |
      (temporalExpr ^^ TemporalValue.apply) |
      (floatLit ^^ FloatValue.apply) |
      (intLit ^^ IntValue.apply) |
      (stringLit ^^ StringValue.apply) |
      boolLit ^^ BoolValue.apply |
      (K("NULL") ^^^ NullValue) |
      (paramRef ^^ Parameter.apply) |
      // column on the value side: `a.x = b.y` comparisons and correlated
      // subquery predicates (ast/values.rs CorrelatedColumn)
      (bareColumnName ^^ ColumnRef.apply)

  private lazy val subqueryValue: Parser[Value] =
    "(" ~> selectStmt <~ ")" ^^ SubqueryValue.apply

  // ---- vectors (grammar.pest:183-187)
  private val vectorLiteral: Parser[Seq[Float]] =
    "[" ~> rep1sep("""-?\d+(\.\d+)?""".r ^^ (_.toFloat), ",") <~ "]"
  private val vectorValue: Parser[VectorValue] =
    (vectorLiteral ^^ (v => VectorValue(Some(v), None))) |
      (paramRef ^^ (p => VectorValue(None, Some(p))))

  // ---- aggregates (grammar.pest:130-134)
  private val aggregateType: Parser[String] =
    (K("COUNT") | K("SUM") | K("AVG") | K("MIN") | K("MAX")) ^^ (_.toLowerCase)
  private val aggregateFunction: Parser[AggregateItem] =
    aggregateType ~ ("(" ~> ("*" | columnName) <~ ")") ^^ {
      case fn ~ arg => AggregateItem(fn, arg, None)
    }

  // ---- select list (grammar.pest:121-137)
  private val aggregationItem: Parser[AggregateItem] =
    aggregateFunction ~ opt(K("AS") ~> identifier) ^^ {
      case a ~ al => a.copy(alias = al)
    }
  private val columnItem: Parser[ColumnItem] =
    bareColumnName ~ opt(K("AS") ~> identifier) ^^ { case n ~ a => ColumnItem(n, a) }
  private val selectItem: Parser[Either[ColumnItem, AggregateItem]] =
    (aggregationItem ^^ (Right(_))) | (columnItem ^^ (Left(_)))
  private val selectList: Parser[SelectList] =
    ("*" ^^^ SelectAll) | (rep1sep(selectItem, ",") ^^ SelectItems.apply)

  // ---- conditions (grammar.pest:139-214)
  private val compareOp: Parser[String] = ">=" | "<=" | "<>" | "!=" | "=" | ">" | "<"

  private val similarityExpr: Parser[Condition] =
    K("similarity") ~> ("(" ~> columnName) ~ ("," ~> vectorValue <~ ")") ~ compareOp ~
      (floatLit | intLit ^^ (_.toDouble)) ^^ {
        case f ~ v ~ op ~ t => SimilarityCond(f, v, op, t)
      }

  private val fusionParamList: Parser[Map[String, Double]] =
    "(" ~> rep1sep(identifier ~ ("=" ~> (floatLit | intLit ^^ (_.toDouble))), ",") <~ ")" ^^
      (_.map { case k ~ v => k.toLowerCase -> v }.toMap)
  private val fusionClause: Parser[FusionClause] =
    K("USING") ~> K("FUSION") ~> stringLit ~ opt(fusionParamList) ^^ {
      case s ~ p => FusionClause(s.toLowerCase, p.getOrElse(Map.empty))
    }

  private val vectorFusedSearch: Parser[Condition] =
    K("vector") ~> K("NEAR_FUSED") ~> ("[" ~> rep1sep(vectorValue, ",") <~ "]") ~
      opt(fusionClause) ^^ { case vs ~ f => VectorNearFused(vs, f) }

  private val vectorSearch: Parser[Condition] =
    K("vector") ~> K("NEAR") ~> vectorValue ^^ VectorNear.apply

  private val matchExpr: Parser[Condition] =
    bareIdent ~ (K("MATCH") ~> stringLit) ^^ { case c ~ q => TextMatch(c, q) }

  private val inExpr: Parser[Condition] =
    bareColumnName ~ (K("IN") ~> "(" ~> rep1sep(value, ",") <~ ")") ^^ {
      case c ~ vs => In(c, vs)
    }

  private val betweenExpr: Parser[Condition] =
    bareColumnName ~ (K("BETWEEN") ~> value) ~ (K("AND") ~> value) ^^ {
      case c ~ lo ~ hi => Between(c, lo, hi)
    }

  private val likeExpr: Parser[Condition] =
    bareColumnName ~ (K("ILIKE") ^^^ true | K("LIKE") ^^^ false) ~ stringLit ^^ {
      case c ~ ci ~ p => Like(c, p, ci)
    }

  private val isNullExpr: Parser[Condition] =
    bareColumnName ~ (K("IS") ~> opt(K("NOT")) <~ K("NULL")) ^^ {
      case c ~ n => IsNull(c, n.isDefined)
    }

  private val compareExpr: Parser[Condition] =
    bareColumnName ~ compareOp ~ value ^^ { case c ~ op ~ v => Compare(c, op, v) }

  private val notExpr: Parser[Condition] =
    K("NOT") ~> primaryExpr ^^ Not.apply

  private lazy val primaryExpr: Parser[Condition] =
    ("(" ~> orExpr <~ ")") |
      notExpr |
      similarityExpr |
      vectorFusedSearch |
      vectorSearch |
      matchExpr |
      inExpr |
      betweenExpr |
      likeExpr |
      isNullExpr |
      compareExpr

  private lazy val andExpr: Parser[Condition] =
    rep1sep(primaryExpr, K("AND")) ^^ (_.reduceLeft(And.apply))
  lazy val orExpr: Parser[Condition] =
    rep1sep(andExpr, K("OR")) ^^ (_.reduceLeft(Or.apply))

  private val whereClause: Parser[Condition] = K("WHERE") ~> orExpr

  // ---- group by / having (grammar.pest:85-97)
  private val groupByClause: Parser[Seq[String]] =
    K("GROUP") ~> K("BY") ~> rep1sep(columnName, ",")
  private val havingTerm: Parser[HavingTerm] =
    aggregateFunction ~ compareOp ~ value ^^ { case a ~ op ~ v => HavingTerm(a, op, v) }
  private val havingClause: Parser[Having] =
    K("HAVING") ~> havingTerm ~ rep((K("AND") | K("OR")) ~ havingTerm) ^^ {
      case first ~ rest => Having(first, rest.map { case op ~ t => (op, t) })
    }

  // ---- joins (grammar.pest:99-107)
  private val joinType: Parser[String] =
    (K("LEFT") <~ opt(K("OUTER"))) ^^^ "left" |
      (K("RIGHT") <~ opt(K("OUTER"))) ^^^ "right" |
      (K("FULL") <~ opt(K("OUTER"))) ^^^ "full" |
      K("INNER") ^^^ "inner"
  private val columnRef: Parser[String] =
    identifier ~ ("." ~> identifier) ^^ { case a ~ b => s"$a.$b" }
  private val joinClause: Parser[JoinClause] =
    opt(joinType) ~ (K("JOIN") ~> identifier) ~ opt(K("AS") ~> identifier) ~
      ((K("ON") ~> columnRef ~ ("=" ~> columnRef) ^^ { case l ~ r => (Some((l, r)), Seq.empty[String]) }) |
        (K("USING") ~> "(" ~> rep1sep(identifier, ",") <~ ")" ^^ (cols => (None, cols)))) ^^ {
      case jt ~ t ~ a ~ ((on, using)) => Ast.JoinClause(jt.getOrElse("inner"), t, a, on, using)
    }

  // ---- order by (grammar.pest:109-115)
  private val orderBySimilarity: Parser[OrderExpr] =
    K("similarity") ~> ("(" ~> columnName) ~ ("," ~> vectorValue <~ ")") ^^ {
      case f ~ v => OrderBySimilarity(f, v)
    }
  private val orderByExpr: Parser[OrderExpr] =
    orderBySimilarity |
      (aggregateFunction ^^ OrderByAggregate.apply) |
      (columnName ^^ OrderByColumn.apply)
  private val orderByItem: Parser[OrderByItem] =
    orderByExpr ~ opt(K("DESC") ^^^ false | K("ASC") ^^^ true) ^^ {
      case e ~ d => OrderByItem(e, d)
    }
  private val orderByClause: Parser[Seq[OrderByItem]] =
    K("ORDER") ~> K("BY") ~> rep1sep(orderByItem, ",")

  // ---- with options (grammar.pest:117-119; ast/with_clause.rs)
  private val withValue: Parser[String] =
    (stringLit | (floatLit ^^ (_.toString)) | (intLit ^^ (_.toString)) |
      (boolLit ^^ (_.toString)) | identifier)
  private val withClause: Parser[Map[String, String]] =
    K("WITH") ~> "(" ~> rep1sep(identifier ~ ("=" ~> withValue), ",") <~ ")" ^^
      (_.map { case k ~ v => k.toLowerCase -> v }.toMap)

  /** Select-level USING FUSION clause (grammar.pest:77-83): option list
    * `(strategy = 'rrf', k = 60, …)`, all parts optional. Distinct from
    * the NEAR_FUSED-level `USING FUSION 'strategy' (params)` form. Keys
    * are case-insensitive in both forms; `strategy` takes a string and
    * every other option a number (the strategy checks which it reads). */
  private val usingFusionSelect: Parser[FusionClause] =
    K("USING") ~> K("FUSION") ~> opt(
      "(" ~> rep1sep(identifier ~ ("=" ~>
        ((stringLit ^^ (Left(_))) | (floatLit ^^ (x => Right(x))) |
          (intLit ^^ (x => Right(x.toDouble))))), ",") <~ ")") into { opts =>
      val kvs = opts.getOrElse(Nil).map { case k ~ v => k.toLowerCase -> v }
      kvs.collectFirst {
        case ("strategy", Right(_)) => err("USING FUSION strategy must be a string")
        case (k, Left(_)) if k != "strategy" => err(s"USING FUSION option '$k' must be a number")
      }.getOrElse {
        val strategy = kvs.collectFirst { case ("strategy", Left(s)) => s.toLowerCase }
          .getOrElse("rrf")
        success(FusionClause(strategy, kvs.collect { case (k, Right(d)) => k -> d }.toMap))
      }
    }

  // ---- select statement (grammar.pest:59-66)
  lazy val selectStmt: Parser[Select] =
    K("SELECT") ~> opt(K("DISTINCT")) ~ selectList ~ (K("FROM") ~> identifier) ~
      opt(K("AS") ~> identifier) ~ rep(joinClause) ~ opt(whereClause) ~
      opt(groupByClause) ~ opt(havingClause) ~ opt(orderByClause) ~
      opt(K("LIMIT") ~> boundedIntLit("LIMIT")) ~
      opt(K("OFFSET") ~> boundedIntLit("OFFSET")) ~
      opt(withClause) ~ opt(usingFusionSelect) ^^ {
        case d ~ sl ~ from ~ fa ~ js ~ w ~ g ~ h ~ o ~ l ~ off ~ wo ~ fu =>
          Select(d.isDefined, sl, from, fa, js, w, g.getOrElse(Nil), h,
            o.getOrElse(Nil), l, off,
            wo.getOrElse(Map.empty), fu)
      }

  /** LIMIT/OFFSET value: a bare `.toInt` silently WRAPPED values past
    * Int.MaxValue (LIMIT 2^32+1 returned one row) and accepted
    * negatives into a raw Spark error (r15 review finding). */
  private def boundedIntLit(kw: String): Parser[Int] = intLit into { v =>
    if (v < 0) err(s"$kw must be non-negative, got $v")
    else if (v > Int.MaxValue) err(s"$kw too large: $v")
    else success(v.toInt)
  }

  private val setOperator: Parser[String] =
    (K("UNION") ~ K("ALL")) ^^^ "union_all" | K("UNION") ^^^ "union" |
      K("INTERSECT") ^^^ "intersect" | K("EXCEPT") ^^^ "except"

  private val compoundQuery: Parser[Query] =
    selectStmt ~ opt(setOperator ~ selectStmt) ^^ {
      case s ~ c => Query(Some(s), c.map { case op ~ r => Compound(op, r) }, None)
    }

  // ---- MATCH graph query (grammar.pest:12-53)
  private val nodeProperties: Parser[Map[String, Value]] =
    "{" ~> rep1sep(identifier ~ (":" ~> value), ",") <~ "}" ^^
      (_.map { case k ~ v => k -> v }.toMap)
  private val nodeLabels: Parser[Seq[String]] =
    rep1(":" ~> identifier)
  private val nodePattern: Parser[NodePattern] =
    "(" ~> opt(regularIdent) ~ opt(nodeLabels) ~ opt(nodeProperties) <~ ")" ^^ {
      case a ~ l ~ p => NodePattern(a, l.getOrElse(Nil), p.getOrElse(Map.empty))
    }
  private val relRange: Parser[(Int, Int)] =
    "*" ~> opt(
      (intLit ~ (".." ~> opt(intLit)) ^^ { case lo ~ hi => (lo.toInt, hi.map(_.toInt).getOrElse(10)) }) |
        (".." ~> intLit ^^ (hi => (1, hi.toInt))) |
        (intLit ^^ (n => (n.toInt, n.toInt)))) ^^ (_.getOrElse((1, 10)))
  private val relTypes: Parser[Seq[String]] =
    ":" ~> rep1sep(identifier, "|")
  private val relDetails: Parser[(Option[String], Seq[String], Option[(Int, Int)], Map[String, Value])] =
    ("[" ~> (opt(regularIdent) ~ opt(relTypes) ~ opt(relRange) ~ opt(nodeProperties)) <~ "]") ^^ {
      case a ~ t ~ r ~ p => (a, t.getOrElse(Nil), r, p.getOrElse(Map.empty))
    }
  private val relPattern: Parser[RelPattern] =
    ("<-" ~> opt(relDetails) <~ "-" ^^ (d => mkRel(d, "in"))) |
      ("-" ~> opt(relDetails) ~ (("->" ^^^ "out") | ("-" ^^^ "undirected")) ^^ {
        case d ~ dir => mkRel(d, dir)
      })
  private def mkRel(d: Option[(Option[String], Seq[String], Option[(Int, Int)], Map[String, Value])],
      dir: String): RelPattern = {
    val (a, t, r, p) = d.getOrElse((None, Nil, None, Map.empty[String, Value]))
    val (lo, hi) = r.getOrElse((1, 1))
    RelPattern(a, t, dir, lo, hi, p)
  }
  private val graphPattern: Parser[GraphPattern] =
    opt(Parser { in => (regularIdent <~ "=")(in) }) ~
      nodePattern ~ rep(relPattern ~ nodePattern) ^^ { case nm ~ n0 ~ rest =>
      GraphPattern(n0 +: rest.map(_._2), rest.map(_._1), nm)
    }
  private val returnExpr: Parser[ReturnExpr] =
    (K("similarity") ~> ("(" ~> columnName) ~ ("," ~> vectorValue <~ ")") ^^ {
      case f ~ v => ReturnSimilarityOf(f, v)
    }) |
      (K("similarity") ~ "(" ~ ")" ^^^ ReturnSimilarity) |
      ("*" ^^^ ReturnAll) |
      (identifier ~ ("." ~> identifier) ^^ { case a ~ p => ReturnProperty(a, p) }) |
      (identifier ^^ ReturnAlias.apply)
  private val returnItem: Parser[ReturnItem] =
    returnExpr ~ opt(K("AS") ~> identifier) ^^ { case e ~ a => ReturnItem(e, a) }
  private val matchQuery: Parser[Query] =
    K("MATCH") ~> graphPattern ~ opt(whereClause) ~
      (K("RETURN") ~> rep1sep(returnItem, ",")) ~ opt(orderByClause) ~
      opt(K("LIMIT") ~> intLit) ^^ {
        case p ~ w ~ r ~ o ~ l =>
          Query(None, None, Some(MatchQuery(p, w, r, o.getOrElse(Nil), l.map(_.toInt))))
      }

  private val query: Parser[Query] = (matchQuery | compoundQuery) <~ opt(";")

  /** Parse a VelesQL query string. */
  def parse(input: String): Either[String, Query] =
    parseAll(query, input) match {
      case Success(q, _) => Right(q)
      case NoSuccess(msg, next) =>
        Left(s"syntax error at line ${next.pos.line}, col ${next.pos.column}: $msg")
      case other => Left(other.toString)
    }
}
