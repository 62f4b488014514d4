package graft.sql

import Ast._
import Lexer._

/** Recursive-descent parser for the dialect (grammar shape per
  * /root/reference/parser.go:1-29; semantics notes in SURVEY.md §2).
  * Produces an [[Ast.Query]]; validity rules that need schema (column
  * resolution, aggregate composition) live in the Planner.
  */
final class Parser(toks: Vector[Tok]) {
  final case class ParseError(msg: String) extends RuntimeException(msg)

  private var pos = 0
  private var prefixNh = false
  private var prefixIntCols = false
  private def peek: Tok = toks(pos)
  private def peekText: String = peek.text.toLowerCase
  private def advance(): Tok = { val t = toks(pos); pos += 1; t }
  /** Keyword/operator match — never matches string literals (a quoted
    * '-' must not be mistaken for the minus operator). */
  private def matches(t: Tok, text: String): Boolean = t match {
    case Word(w) => w.equalsIgnoreCase(text)
    case Op(o) => o == text
    case _ => false
  }
  private def expect(text: String): Tok = {
    if (matches(peek, text)) advance()
    else throw ParseError(s"expected '$text', found '${peek.text}'")
  }
  private def accept(text: String): Boolean =
    if (matches(peek, text)) { pos += 1; true } else false
  private def isWord(t: Tok, w: String): Boolean =
    t.isInstanceOf[Word] && t.text.equalsIgnoreCase(w)

  private val aggNames = Set("sum", "avg", "min", "max", "count", "stdev", "stdevp")
  private val fnNames = Set("year", "month", "week", "day", "dayofweek", "dayofyear",
    "dayofmonth", "hour", "monthname", "dayname", "abs", "coalesce",
    "encrypt", "decrypt", "inc", "format", "session",
    "token_count", "compress_ratio", "minhash_sig",
    "simhash", "fingerprint", "lang_id", "pii_redact")
  private val clauseKw = Set("from", "where", "group", "having", "order", "limit",
    "and", "or", "xor", "when", "then", "else", "end", "as", "asc",
    "join", "inner", "left", "outer", "sjoin", "bjoin", "on", "top",
    "distinct", "hidden", "like", "in", "between", "not", "is", "by", "nh",
    "noheader", "null")

  // ── entry ───────────────────────────────────────────────────────────
  /** One statement: `select ...` or a pipeline statement
    * (`dedup ...` / `similar ...`). */
  def parseStatement(): Stmt =
    if (matches(peek, "dedup")) { advance(); parseDedup() }
    else if (matches(peek, "similar")) { advance(); parseSimilar() }
    else if (matches(peek, "shard")) { advance(); parseShard() }
    else if (matches(peek, "interleave")) { advance(); parseInterleave() }
    else if (matches(peek, "search")) { advance(); parseSearch() }
    else if (matches(peek, "split")) { advance(); parseSplit() }
    else if (matches(peek, "cluster")) { advance(); parseCluster() }
    else if (matches(peek, "profile")) { advance(); parseProfile() }
    else if (matches(peek, "chunk")) { advance(); parseChunk() }
    else if (matches(peek, "sample")) { advance(); parseSample() }
    else if (matches(peek, "pack")) { advance(); parsePack() }
    else if (matches(peek, "quantize")) { advance(); parseQuantize() }
    else if (matches(peek, "trend")) { advance(); parseTrend() }
    else if (matches(peek, "card")) { advance(); parseCard() }
    else if (matches(peek, "mix")) { advance(); parseMix() }
    else if (matches(peek, "calibrate")) { advance(); parseCalibrate() }
    else if (matches(peek, "negatives")) { advance(); parseNegatives() }
    else if (matches(peek, "outliers")) { advance(); parseOutliers() }
    else if (matches(peek, "repair")) { advance(); parseRepair() }
    else if (matches(peek, "index")) { advance(); parseIndex() }
    else if (matches(peek, "ingest")) { advance(); parseIngest() }
    else if (matches(peek, "compact")) { advance(); parseCompact() }
    else if (matches(peek, "serve")) { advance(); parseServe() }
    else if (matches(peek, "drift")) { advance(); parseDrift() }
    else if (matches(peek, "epochs")) { advance(); parseEpochs() }
    else if (matches(peek, "retention")) { advance(); parseRetention() }
    else if (matches(peek, "diff")) { advance(); parseDiff() }
    else if (matches(peek, "fertility")) { advance(); parseFertility() }
    else if (matches(peek, "packing")) { advance(); parsePacking() }
    else parseQuery()

  /** A pipeline statement's column operand. */
  private def colName(): String = peek match {
    case _: Word => advance().text
    case t => throw ParseError(s"expected column name, found '${t.text}'")
  }

  /** A pipeline statement ends at EOF or `;`. */
  private def endOfStatement(): Unit =
    if (!peek.eq(EOF) && peekText != ";")
      throw ParseError(s"unexpected trailing token '${peek.text}'")

  /** `<kw> <table> [nh]`: a pipeline statement's single-table source —
    * no alias, no join. An empty `kw` reads the bare `<table> [nh]`. */
  private def fromTable(kw: String = "from"): FromClause = {
    if (kw.nonEmpty) expect(kw)
    val table = parseTableRef()
    var noHeader = prefixNh
    while (accept("nh") || accept("noheader")) noHeader = true
    FromClause(table, None, noHeader, intColumns = false, Nil)
  }

  /** `mix <idCol>[,] <textCol> from <table> [nh] [budget <n>]
    * [per <srcCol>]`. */
  private def parseMix(): MixStmt = {
    val idCol = colName()
    accept(",")
    val textCol = colName()
    val from = fromTable()
    val budget = if (accept("budget")) parseNumber() else 800L
    if (budget < 1) throw ParseError(s"mix budget must be at least 1, got $budget")
    val src = if (accept("per")) colName() else "source"
    endOfStatement()
    MixStmt(idCol, textCol, from, budget, src)
  }

  /** `card <idCol>[,] <textCol> from <table> [nh]`. */
  private def parseCard(): CardStmt = {
    val idCol = colName()
    accept(",")
    val textCol = colName()
    val from = fromTable()
    endOfStatement()
    CardStmt(idCol, textCol, from)
  }

  /** `calibrate <idCol>[,] <srcCol>[,] <textCol> from <table> [nh]`. */
  private def parseCalibrate(): CalibrateStmt = {
    val idCol = colName()
    accept(",")
    val srcCol = colName()
    accept(",")
    val textCol = colName()
    if (Seq(idCol, srcCol, textCol).distinct.size != 3)
      throw ParseError("calibrate: id, source and text columns must be distinct")
    val from = fromTable()
    endOfStatement()
    CalibrateStmt(idCol, srcCol, textCol, from)
  }

  /** `negatives <idCol>[,] <vecCol>[,] <labelCol> from <table> [nh]
    * [top <k>]`. */
  private def parseNegatives(): NegativesStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    accept(",")
    val labelCol = colName()
    if (Seq(idCol, vecCol, labelCol).distinct.size != 3)
      throw ParseError("negatives: id, vector and label columns must be distinct")
    val from = fromTable()
    val k = if (accept("top")) parseNumber() else 5L
    if (k < 1) throw ParseError(s"top must be at least 1, got $k")
    if (k > 1000000) throw ParseError(s"top must be at most 1e6, got $k")
    endOfStatement()
    NegativesStmt(idCol, vecCol, labelCol, from, k)
  }

  /** `outliers <idCol>[,] <vecCol> from <table> [nh] [top <k>]`. */
  private def parseOutliers(): OutliersStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    if (idCol == vecCol)
      throw ParseError("outliers: id and vector columns must be distinct")
    val from = fromTable()
    val k = if (accept("top")) parseNumber() else 20L
    if (k < 1) throw ParseError(s"top must be at least 1, got $k")
    if (k > 1000000) throw ParseError(s"top must be at most 1e6, got $k")
    endOfStatement()
    OutliersStmt(idCol, vecCol, from, k)
  }

  /** `repair <idCol>[,] <vecCol> from <table> [nh] [threshold <x>]`. */
  private def parseRepair(): RepairStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    if (idCol == vecCol)
      throw ParseError("repair: id and vector columns must be distinct")
    val from = fromTable()
    val indexPath = if (accept("using")) Some(parsePathLit("repair")) else None
    val thresh = if (accept("threshold")) peek match {
      case Num(t) => advance(); t.toDouble
      case t => throw ParseError(s"expected number, found '${t.text}'")
    } else graft.queries.VectorQueries.IVF_REPAIR_THRESH
    if (thresh <= 0)
      throw ParseError(s"threshold must be positive, got $thresh")
    endOfStatement()
    RepairStmt(idCol, vecCol, from, thresh, indexPath)
  }

  /** A QUOTED filesystem path operand (index `into`, serve/repair
    * `using`/`from`) — quoting is mandatory so a path can never be
    * mistaken for a table or keyword. */
  private def parsePathLit(stmt: String): String = peek match {
    case Str(p) =>
      advance()
      if (p.isEmpty) throw ParseError(s"$stmt: path must not be empty")
      p
    case t => throw ParseError(s"$stmt: expected quoted path, found '${t.text}'")
  }

  /** `index <idCol>[,] <vecCol> from <table> [nh] into '<path>'`. */
  private def parseIndex(): IndexStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    if (idCol == vecCol)
      throw ParseError("index: id and vector columns must be distinct")
    val from = fromTable()
    expect("into")
    val path = parsePathLit("index")
    val pq = accept("pq")
    endOfStatement()
    IndexStmt(idCol, vecCol, from, path, pq)
  }

  /** `ingest <idCol>[,] <vecCol> from <table> [nh] into '<path>'
    * [append]`. */
  private def parseIngest(): IngestStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    if (idCol == vecCol)
      throw ParseError("ingest: id and vector columns must be distinct")
    val from = fromTable()
    expect("into")
    val path = parsePathLit("ingest")
    val append = accept("append")
    endOfStatement()
    IngestStmt(idCol, vecCol, from, path, append)
  }

  /** `compact '<path>' [files <n>]`. */
  private def parseCompact(): CompactStmt = {
    val path = parsePathLit("compact")
    val files = if (accept("files")) parseNumber() else 4L
    if (files < 1) throw ParseError(s"compact files must be at least 1, got $files")
    if (files > 100000)
      throw ParseError(s"compact files must be at most 100000, got $files")
    endOfStatement()
    CompactStmt(path, files)
  }

  /** `serve <idCol>[,] <vecCol> from '<path>' [query <table>]
    * [top <k>] [probe <n>]`. */
  private def parseServe(): ServeStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    if (idCol == vecCol)
      throw ParseError("serve: id and vector columns must be distinct")
    expect("from")
    val path = parsePathLit("serve")
    val query = if (accept("query")) Some(parseTableRef()) else None
    val k = if (accept("top")) parseNumber() else 5L
    if (k < 1) throw ParseError(s"serve top must be at least 1, got $k")
    if (k > 1000) throw ParseError(s"serve top must be at most 1000, got $k")
    val probe = if (accept("probe")) parseNumber() else 1L
    if (probe < 1) throw ParseError(s"serve probe must be at least 1, got $probe")
    if (probe > 8) throw ParseError(s"serve probe must be at most 8, got $probe")
    if (probe > 1 && query.isEmpty)
      throw ParseError("serve: probe needs an external batch (`query '<table>'`) — " +
        "the demo panel's cells come off the index files")
    val pq = accept("pq")
    val hasShortlist = accept("shortlist")
    val shortlist = if (hasShortlist) parseNumber() else 20L
    if (!pq && hasShortlist)
      throw ParseError("serve: shortlist only applies to pq serving")
    if (pq && query.isEmpty)
      throw ParseError("serve: pq needs an external batch (`query '<table>'`)")
    if (pq && shortlist < k)
      throw ParseError(s"serve shortlist ($shortlist) must be at least top ($k)")
    if (shortlist > 10000)
      throw ParseError(s"serve shortlist must be at most 10000, got $shortlist")
    endOfStatement()
    ServeStmt(idCol, vecCol, path, query, k, probe, pq, shortlist)
  }

  /** `drift <vecCol> from <refTable> [nh] against <curTable> [nh]` —
    * the dialect's first two-table non-join statement. */
  private def parseDrift(): DriftStmt = {
    val vecCol = colName()
    val ref = fromTable()
    val cur = fromTable("against")
    endOfStatement()
    DriftStmt(vecCol, ref, cur)
  }

  /** `epochs <srcCol>[,] <textCol> from <table> [nh] [budget <n>]`. */
  private def parseEpochs(): EpochsStmt = {
    val srcCol = colName()
    accept(",")
    val textCol = colName()
    if (srcCol == textCol)
      throw ParseError("epochs: source and text columns must be distinct")
    val from = fromTable()
    val budget = if (accept("budget")) parseNumber() else 1000000L
    if (budget < 1) throw ParseError(s"budget must be at least 1, got $budget")
    endOfStatement()
    EpochsStmt(srcCol, textCol, from, budget)
  }

  /** `retention <userCol>[,] <tsCol> from <table> [nh]`. */
  private def parseRetention(): RetentionStmt = {
    val userCol = colName()
    accept(",")
    val tsCol = colName()
    if (userCol == tsCol)
      throw ParseError("retention: user and timestamp columns must be distinct")
    val from = fromTable()
    endOfStatement()
    RetentionStmt(userCol, tsCol, from)
  }

  /** `diff <textCol> from <oldTable> [nh] against <newTable> [nh]` —
    * the drift two-table shape. */
  private def parseDiff(): DiffStmt = {
    val textCol = colName()
    val old = fromTable()
    val cur = fromTable("against")
    endOfStatement()
    DiffStmt(textCol, old, cur)
  }

  /** `fertility <langCol>[,] <textCol> from <table> [nh]`. */
  private def parseFertility(): FertilityStmt = {
    val langCol = colName()
    accept(",")
    val textCol = colName()
    if (langCol == textCol)
      throw ParseError("fertility: language and text columns must be distinct")
    val from = fromTable()
    endOfStatement()
    FertilityStmt(langCol, textCol, from)
  }

  /** `packing <idCol>[,] <textCol> from <table> [nh]
    * [sizes <n>[, <n>…]]` — sizes default to 256, 512, 1024. */
  private def parsePacking(): PackingStmt = {
    val idCol = colName()
    accept(",")
    val textCol = colName()
    if (idCol == textCol)
      throw ParseError("packing: id and text columns must be distinct")
    val from = fromTable()
    val sizes =
      if (accept("sizes")) {
        val buf = scala.collection.mutable.ArrayBuffer(parseNumber())
        while (accept(",")) buf += parseNumber()
        buf.toSeq
      } else Seq(256L, 512L, 1024L)
    sizes.foreach { l =>
      if (l < 1) throw ParseError(s"packing size must be at least 1, got $l")
    }
    if (sizes.distinct.size != sizes.size)
      throw ParseError("packing sizes must be distinct")
    endOfStatement()
    PackingStmt(idCol, textCol, from, sizes)
  }

  /** `trend <tsCol>[,] <keyCol> from <table> [nh] [top <k>]`. */
  private def parseTrend(): TrendStmt = {
    val tsCol = colName()
    accept(",")
    val keyCol = colName()
    val from = fromTable()
    val k = if (accept("top")) parseNumber() else 3L
    if (k < 1) throw ParseError(s"trend top must be at least 1, got $k")
    endOfStatement()
    TrendStmt(tsCol, keyCol, from, k)
  }

  /** `sample <idCol> from <table> [nh]
    *   [pct <n> | top <n> by <w> [per <g>]]` —
    * the `top … by` form is the weighted draw (Efraimidis–Spirakis,
    * x10): the n rows selected by deterministic weighted keys;
    * `per <g>` makes it an independent per-group draw (x13). */
  private def parseSample(): SampleStmt = {
    val idCol = colName()
    val from = fromTable()
    if (accept("top")) {
      val n = parseNumber()
      if (n < 1) throw ParseError(s"sample top must be at least 1, got $n")
      expect("by")
      val w = peek match {
        case _: Word => advance().text
        case t => throw ParseError(s"expected weight column, found '${t.text}'")
      }
      val per = if (accept("per")) Some(peek match {
        case _: Word => advance().text
        case t => throw ParseError(s"expected group column, found '${t.text}'")
      }) else None
      endOfStatement()
      SampleStmt(idCol, from, 10L, Some(n), Some(w), per)
    } else {
      val pct = if (accept("pct")) parseNumber() else 10L
      if (pct < 1 || pct > 99)
        throw ParseError(s"sample pct must be in [1, 99], got $pct")
      endOfStatement()
      SampleStmt(idCol, from, pct)
    }
  }

  /** `quantize <idCol>[,] <vecCol> from <table> [nh]`. */
  private def parseQuantize(): QuantizeStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    val from = fromTable()
    endOfStatement()
    QuantizeStmt(idCol, vecCol, from)
  }

  /** `pack <idCol>[,] <textCol> from <table> [nh] [size <l>]`. */
  private def parsePack(): PackStmt = {
    val idCol = colName()
    accept(",")
    val textCol = colName()
    val from = fromTable()
    val l = if (accept("size")) parseNumber() else 512L
    if (l < 1) throw ParseError(s"pack size must be at least 1, got $l")
    endOfStatement()
    PackStmt(idCol, textCol, from, l)
  }

  /** `chunk <idCol>[,] <textCol> from <table> [nh] [size <n>]
    * [overlap <m>]`. */
  private def parseChunk(): ChunkStmt = {
    val idCol = colName()
    accept(",")
    val textCol = colName()
    val from = fromTable()
    val size = if (accept("size")) parseNumber() else 64L
    val overlap = if (accept("overlap")) parseNumber() else 16L
    if (size < 1) throw ParseError(s"chunk size must be at least 1, got $size")
    if (overlap < 0 || overlap >= size)
      throw ParseError(s"chunk overlap must be in [0, size), got $overlap for size $size")
    endOfStatement()
    ChunkStmt(idCol, textCol, from, size, overlap)
  }

  /** `profile <table> [nh]`. */
  private def parseProfile(): ProfileStmt = {
    val from = fromTable(kw = "")
    endOfStatement()
    ProfileStmt(from)
  }

  /** `search <idCol>[,] <textCol> from <table> [nh] for '<terms>'
    * [top <k>]`. */
  private def parseSearch(): SearchStmt = {
    val idCol = colName()
    accept(",")
    val textCol = colName()
    val from = fromTable()
    expect("for")
    val termsRaw = peek match {
      case Str(s) => advance(); s
      case t => throw ParseError(s"expected quoted search terms after 'for', found '${t.text}'")
    }
    // whitespace-split, lowercased, order-preserving dedup — the same
    // token alphabet the corpus tokenizer emits
    val terms = termsRaw.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    if (terms.isEmpty) throw ParseError("search terms must contain at least one word")
    val k = if (accept("top")) parseNumber() else 20L
    if (k < 1) throw ParseError(s"top must be at least 1, got $k")
    endOfStatement()
    SearchStmt(idCol, textCol, from, terms, k)
  }

  /** `split <idCol> from <table> [nh] [into <p1> <p2> <p3>]`. */
  private def parseSplit(): SplitStmt = {
    val idCol = colName()
    val from = fromTable()
    val pcts =
      if (accept("into")) {
        val ps = scala.collection.mutable.ArrayBuffer.empty[Long]
        ps += parseNumber()
        while (accept(",") || (peek match { case _: Num => true; case _ => false }))
          ps += parseNumber()
        ps.toSeq
      } else Seq(80L, 10L, 10L)
    if (pcts.size != 3)
      throw ParseError(s"split takes exactly 3 percentages (train val test), got ${pcts.size}")
    if (pcts.exists(_ < 1))
      throw ParseError("split percentages must be positive")
    if (pcts.sum != 100L)
      throw ParseError(s"split percentages must sum to 100, got ${pcts.sum}")
    endOfStatement()
    SplitStmt(idCol, from, pcts)
  }

  /** `cluster <idCol>[,] <vecCol> from <table> [nh] [into <k>]`. */
  private def parseCluster(): ClusterStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    val from = fromTable()
    val k = if (accept("into")) parseNumber() else 4L
    if (k < 2) throw ParseError(s"cluster count must be at least 2, got $k")
    if (k > 256) throw ParseError(s"cluster count must be at most 256, got $k")
    endOfStatement()
    ClusterStmt(idCol, vecCol, from, k)
  }

  /** `shard <idCol> from <table> [nh] [into <n>]`. */
  private def parseShard(): ShardStmt = {
    val idCol = colName()
    val from = fromTable()
    val n = if (accept("into")) parseNumber() else 16L
    if (n < 1) throw ParseError(s"shard count must be at least 1, got $n")
    endOfStatement()
    ShardStmt(idCol, from, n)
  }

  /** `interleave <idCol>[,] <srcCol> from <table> [nh]`. */
  private def parseInterleave(): InterleaveStmt = {
    val idCol = colName()
    accept(",")
    val srcCol = colName()
    val from = fromTable()
    endOfStatement()
    InterleaveStmt(idCol, srcCol, from)
  }

  /** `similar <idCol>[,] <vecCol> from <table> [nh] [top <k>]`. */
  private def parseSimilar(): SimilarStmt = {
    val idCol = colName()
    accept(",")
    val vecCol = colName()
    val from = fromTable()
    val k = if (accept("top")) parseNumber() else 5L
    if (k < 1) throw ParseError(s"top must be at least 1, got $k")
    endOfStatement()
    SimilarStmt(idCol, vecCol, from, k)
  }

  /** `dedup near|exact|best <idCol>[,] <textCol> from <table> [nh]` —
    * the MinHash-LSH pipeline as a first-class statement. */
  private def parseDedup(): DedupStmt = {
    val mode =
      if (accept("near")) "near"
      else if (accept("exact")) "exact"
      else if (accept("best")) "best"
      else if (accept("semantic")) "semantic"
      else throw ParseError(
        "expected 'near', 'exact', 'best' or 'semantic' after dedup")
    val idCol = colName()
    accept(",") // commas optional, dialect-wide
    val textCol = colName()
    // single-table FROM (parseFrom would swallow the `threshold`
    // keyword as a table alias) — no aliases, no joins on the dedup
    // surface
    val from = fromTable()
    if (matches(peek, "join") || matches(peek, "inner") ||
        matches(peek, "left") || matches(peek, "outer") ||
        matches(peek, "sjoin") || matches(peek, "bjoin"))
      throw ParseError("dedup takes a single table (no joins)")
    val threshold =
      if (accept("threshold")) {
        if (mode != "near" && mode != "semantic") throw ParseError(
          "threshold only applies to dedup near (Jaccard) and dedup semantic (cosine)")
        val t = peek match {
          case Num(x) => advance(); x.toDouble
          case t0 => throw ParseError(s"expected number after threshold, found '${t0.text}'")
        }
        if (t < 0.0 || t > 1.0)
          throw ParseError(s"threshold must be in [0, 1], got $t")
        Some(t)
      } else None
    endOfStatement()
    DedupStmt(mode, idCol, textCol, from, threshold)
  }

  def parseQuery(): Query = {
    // global prefix options before select: `nh select ...`, `c select ...`
    // (reference consumes these in openFiles, utils.go:507-570; the test
    // corpus uses `nh select ... from cities.csv c join ...`)
    var globalNh = false
    var globalIntCols = false
    var optLoop = true
    while (optLoop) {
      if (accept("nh") || accept("noheader")) globalNh = true
      else if (accept("c")) globalIntCols = true
      else optLoop = false
    }
    this.prefixNh = globalNh
    this.prefixIntCols = globalIntCols
    expect("select")
    val limitFore = if (accept("top")) Some(parseNumber()) else None
    var distinct: Option[DistinctClause] = None
    if (accept("distinct")) {
      val hidden = accept("hidden")
      distinct = Some(DistinctClause(parseExpr(), hidden))
      accept(",")
    }
    val (star, items) = parseSelectList()
    val from = parseFrom()
    val where = if (accept("where")) Some(parsePredicates()) else None
    var groupBy: Seq[Expr] = Nil
    if (accept("group")) { expect("by"); groupBy = parseExprList() }
    val having = if (accept("having")) Some(parsePredicates()) else None
    var orderBy: Option[Expr] = None
    var orderAsc = false
    if (accept("order")) {
      expect("by"); orderBy = Some(parseExpr())
      // descending by default; `asc` opt-in (reference parser.go:928-948)
      orderAsc = accept("asc")
    }
    val limitAft = if (accept("limit")) Some(parseNumber()) else None
    if (!peek.eq(EOF) && peekText != ";")
      throw ParseError(s"unexpected trailing token '${peek.text}'")
    Query(star, items, distinct, from, where, groupBy, having,
      orderBy, orderAsc, limitFore.orElse(limitAft))
  }

  private def parseNumber(): Long = peek match {
    case Num(t) => advance(); t.toDouble.toLong
    case t => throw ParseError(s"expected number, found '${t.text}'")
  }

  // ── select list ─────────────────────────────────────────────────────
  private def parseSelectList(): (Boolean, Seq[SelectItem]) = {
    var star = false
    val items = Seq.newBuilder[SelectItem]
    // empty select list = select-all (reference parser.go:287-291)
    while (peekText != "from" && peek != EOF) {
      if (accept("*")) star = true
      else {
        // alias = expr  |  expr [as alias]  (reference parser.go:231-295)
        val item = peek match {
          case w: Word if isWord(toks.lift(pos + 1).getOrElse(EOF), "=") &&
              !clauseKw(w.text.toLowerCase) =>
            // not reachable: '=' is an Op, handled below
            SelectItem(parseExpr(), None)
          case w: Word if toks.lift(pos + 1).exists {
              case Op("=") => true; case _ => false
            } && !clauseKw(w.text.toLowerCase) && !aggNames(w.text.toLowerCase) &&
              !fnNames(w.text.toLowerCase) =>
            val alias = advance().text; advance() // consume '='
            SelectItem(parseExpr(), Some(alias))
          case _ =>
            val e = parseExpr()
            val alias =
              if (accept("as")) Some(advance().text)
              else None
            SelectItem(e, alias)
        }
        items += item
      }
      accept(",") // commas optional in the dialect
    }
    (star, items.result())
  }

  private def parseExprList(): Seq[Expr] = {
    val out = Seq.newBuilder[Expr]
    var more = true
    while (more) {
      out += parseExpr()
      if (!accept(",")) {
        // comma-optional lists: keep going while an expression can start
        more = peek match {
          case Word(w) if !clauseKw(w.toLowerCase) => true
          case _: Num | _: Str => true
          case Op("(") | Op("-") => true
          case _ => false
        }
      }
    }
    out.result()
  }

  // ── from / joins ────────────────────────────────────────────────────
  /** Table ref: bare word, quoted string, dotted (file.csv), or path. */
  private def parseTableRef(): String = {
    val base = peek match {
      case Word(t) => advance(); t
      case Str(t) => advance(); t
      case t => throw ParseError(s"expected table name, found '${t.text}'")
    }
    var name = base
    while (peek == Op(".")) {
      advance()
      name = name + "." + advance().text
    }
    name
  }

  private def parseFrom(): FromClause = {
    expect("from")
    val table = parseTableRef()
    var alias: Option[String] = None
    var noHeader = prefixNh
    val intColumns = prefixIntCols
    var done = false
    while (!done) peek match {
      case w: Word if w.text.equalsIgnoreCase("nh") || w.text.equalsIgnoreCase("noheader") =>
        advance(); noHeader = true
      case w: Word if !clauseKw(w.text.toLowerCase) && alias.isEmpty &&
          !w.text.equalsIgnoreCase("select") =>
        advance(); alias = Some(w.text)
      case _ => done = true
    }
    val joins = Seq.newBuilder[JoinClause]
    var joining = true
    while (joining) {
      val jt: Option[JoinType] =
        if (accept("inner")) { Some(InnerJoin) }
        else if (accept("left")) { accept("outer"); Some(LeftJoin) }
        else if (accept("outer")) Some(LeftJoin) // outer alone = left (parser.go:836-839)
        else None
      val hint =
        if (peekText == "sjoin") { advance(); Some("sjoin") }
        else if (peekText == "bjoin") { advance(); Some("bjoin") }
        else None
      if (jt.isDefined || hint.isDefined || peekText == "join") {
        accept("join")
        val t = parseTableRef()
        // aliases mandatory for joins (reference parser.go:869-884)
        val a = peek match {
          case w: Word if !clauseKw(w.text.toLowerCase) => advance().text
          case _ => throw ParseError(s"join table '$t' requires an alias")
        }
        val jnh = accept("nh") || accept("noheader") || prefixNh
        expect("on")
        // exactly one equality condition (reference parser.go:583-585)
        val l = parseExpr()
        expect("=")
        val r = parseExpr()
        joins += JoinClause(t, a, jt.getOrElse(InnerJoin), hint, jnh, l, r)
      } else joining = false
    }
    FromClause(table, alias, noHeader, intColumns, joins.result())
  }

  // ── predicates ──────────────────────────────────────────────────────
  def parsePredicates(): Pred = parseOr()

  private def parseOr(): Pred = {
    var l = parseAnd()
    var more = true
    while (more) {
      if (accept("or")) l = OrP(l, parseAnd())
      else if (accept("xor")) l = XorP(l, parseAnd())
      else more = false
    }
    l
  }

  private def parseAnd(): Pred = {
    var l = parseNot()
    while (accept("and")) l = AndP(l, parseNot())
    l
  }

  private def parseNot(): Pred =
    if (accept("not") || accept("!")) NotP(parseNot())
    else parsePredAtom()

  /** Parenthesized predicate group or a comparison. The reference
    * backtracks between predicate-group and expression parses
    * (parser.go:636-653); we do the same with a position save. */
  private def parsePredAtom(): Pred = {
    if (peek == Op("(")) {
      val save = pos
      advance()
      try {
        val p = parsePredicates()
        expect(")")
        return p
      } catch { case _: ParseError => pos = save } // fall through to expr compare
    }
    parseComparison()
  }

  private def parseComparison(): Pred = {
    val l = parseExpr()
    // post-expression negation: `x not in/between/like/=` — the
    // reference grammar allows {not} before any relop (parser.go:18-21)
    val negated = (peek, toks.lift(pos + 1)) match {
      case (w: Word, Some(_)) if w.text.equalsIgnoreCase("not") =>
        advance(); true
      case _ => false
    }
    peek match {
      case Op(op) if Set("=", "!=", "<>", "<", "<=", ">", ">=")(op) =>
        advance()
        val r = parseExpr()
        val c = Cmp(cmpOf(op), l, r)
        if (negated) NotP(c) else c
      case w: Word if w.text.equalsIgnoreCase("like") =>
        advance()
        LikeP(l, parsePatternText(), negated)
      case w: Word if w.text.equalsIgnoreCase("in") =>
        advance(); expect("(")
        val list = parseExprList()
        expect(")")
        InP(l, list, negated)
      case w: Word if w.text.equalsIgnoreCase("between") =>
        advance()
        val a = parseExpr(); expect("and"); val b = parseExpr()
        BetweenP(l, a, b, negated)
      case t => throw ParseError(s"expected comparison operator, found '${t.text}'")
    }
  }

  private def cmpOf(op: String): CmpOp = op match {
    case "=" => Eq; case "!=" | "<>" => Ne
    case "<" => Lt; case "<=" => Le; case ">" => Gt; case ">=" => Ge
  }

  private def parsePatternText(): String = peek match {
    case Str(t) => advance(); t
    case Word(t) => advance(); t
    case t => throw ParseError(s"expected pattern, found '${t.text}'")
  }

  // ── expressions: add < mult < neg < value (reference parser.go:300-357)
  def parseExpr(): Expr = parseAdd()

  private def parseAdd(): Expr = {
    var l = parseMult()
    var more = true
    while (more) peek match {
      case Op("+") => advance(); l = Arith(Add, l, parseMult())
      case Op("-") => advance(); l = Arith(Sub, l, parseMult())
      case _ => more = false
    }
    l
  }

  private def parseMult(): Expr = {
    var l = parseNegOperand()
    var more = true
    while (more) peek match {
      case Op("*") => advance(); l = Arith(Mul, l, parseNegOperand())
      case Op("/") => advance(); l = Arith(Div, l, parseNegOperand())
      case Op("%") => advance(); l = Arith(Mod, l, parseNegOperand())
      case Op("^") => advance(); l = Arith(Pow, l, parseNegOperand())
      case _ => more = false
    }
    l
  }

  private def parseNegOperand(): Expr =
    if (accept("-")) Neg(parseValue()) else parseValue()

  private def parseValue(): Expr = peek match {
    case Op("(") =>
      advance(); val e = parseExpr(); expect(")"); e
    case Num(t) => advance(); Lit(t, quoted = false)
    case Str(t) => advance(); Lit(t, quoted = true)
    case w: Word if w.text.equalsIgnoreCase("null") => advance(); NullLit()
    case w: Word if w.text.equalsIgnoreCase("case") => advance(); parseCase()
    case w: Word if aggNames(w.text.toLowerCase) &&
        toks.lift(pos + 1).contains(Op("(")) =>
      val name = advance().text.toLowerCase
      advance() // (
      val distinct = accept("distinct")
      val arg =
        if (name == "count" && peek == Op("*")) { advance(); Lit("1", quoted = false) }
        else parseExpr()
      expect(")")
      AggCall(name, arg, distinct)
    case w: Word if fnNames(w.text.toLowerCase) &&
        toks.lift(pos + 1).contains(Op("(")) =>
      val name = advance().text.toLowerCase
      advance() // (
      val args = if (peek == Op(")")) Nil else parseExprList()
      expect(")")
      FnCall(name, args)
    case w: Word =>
      advance()
      if (peek == Op(".")) {
        // alias.column (reference parser.go:461-477)
        advance()
        val colTok = advance()
        ColRef(Some(w.text), colTok.text)
      } else ColRef(None, w.text)
    case t => throw ParseError(s"expected expression, found '${t.text}'")
  }

  private def parseCase(): Expr = {
    if (peekText == "when") {
      // searched case
      val branches = Seq.newBuilder[(Pred, Expr)]
      while (accept("when")) {
        val p = parsePredicates()
        expect("then")
        branches += ((p, parseExpr()))
      }
      val els = if (accept("else")) Some(parseExpr()) else None
      expect("end")
      CaseSearched(branches.result(), els)
    } else {
      // simple case
      val subj = parseExpr()
      val branches = Seq.newBuilder[(Expr, Expr)]
      while (accept("when")) {
        val v = parseExpr()
        expect("then")
        branches += ((v, parseExpr()))
      }
      val els = if (accept("else")) Some(parseExpr()) else None
      expect("end")
      CaseSimple(subj, branches.result(), els)
    }
  }
}

object Parser {
  /** Parse one statement (select query or pipeline statement). */
  def parseStmt(sql: String): Ast.Stmt =
    new Parser(Lexer.tokenize(sql)).parseStatement()

  /** Parse one select query (the common case; pipeline statements go
    * through [[parseStmt]]). */
  def parse(sql: String): Ast.Query =
    new Parser(Lexer.tokenize(sql)).parseQuery()

  /** Split a multi-statement string on top-level ';'
    * (reference main.go:117-147). */
  def splitStatements(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var inQuote: Option[Char] = None
    for (c <- s) inQuote match {
      case Some(q) =>
        sb += c
        if (c == q) inQuote = None
      case None =>
        if (c == '\'' || c == '"') { inQuote = Some(c); sb += c }
        else if (c == ';') { out += sb.toString; sb.clear() }
        else sb += c
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
