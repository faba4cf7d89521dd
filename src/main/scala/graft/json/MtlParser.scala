package graft.json

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType,
  StructField, StructType}
import graft.{Checkpoints, Jobs}
import graft.Checkpoints.PinSyntax
import graft.Caching.TrackedSyntax

/** MTL query-language front-end (reference `modelling/treehorn_yaccer.py`,
  * tokens `modelling/treehorn_tokenizer.py`, sample `query_text.mtl`).
  *
  * Supported surface (the reference grammar, plus WHERE):
  * {{{
  * QUERY q IS SELECT a.x AS col1, fn(b.y) AS col2
  *   FROM obj START AT TOP
  *   GO DOWN UNTIL HAS KEY x AS a
  *   GO DOWN UNTIL (HAS KEY y AND NOT HAS KEY z) AS b
  *   GO UP UNTIL HAS KEY w AS c
  *   WHERE a.x >= 25 AND b.y = 'active';
  * IN QUERY q col1 IS A UNIQUE PROPERTY name OF ENTITY user;
  * IN QUERY q col2 IS A PROPERTY email OF ENTITY user NAMED BY col1;
  * IN QUERY q user NAMED BY col1 IS RELATED TO city NAMED BY c AS livesin;
  * IN QUERY q col1 AND col2 COREFER;
  * }}}
  * Conditions compose with parenthesized AND/OR and prefix NOT (reference
  * `treehorn.py:204-259` MeetsCondition combinators); `GO UP UNTIL`
  * anchors at an ancestor (`treehorn.py:192`). Python `IS A PYTHON FUNCTION
  * IMPORTED FROM ...` declarations are accepted and ignored; function
  * applications resolve against a caller-supplied registry of
  * `Column => Column` (the Spark-native equivalent).
  *
  * The parser is a small hand-rolled recursive-descent (no parser-generator
  * dependency). Execution compiles onto [[TreeWalk]]: chains without GO UP
  * use [[TreeWalk.extractCond]] (labels resolve independently from the
  * root, so sibling captures combine relationally); chains with GO UP use
  * the sequential [[TreeWalk.walk]] (each traversal starts at the previous
  * match — the reference's `traversal_chain` composition). WHERE predicates
  * filter before projection either way.
  */
object MtlParser {

  final case class Selection(fn: Option[String], label: String, key: String, alias: String)
  final case class Where(ref: String, op: String, value: String)
  final case class Query(name: String, selections: Seq[Selection], from: String,
                         travs: Seq[TreeWalk.Traversal], wheres: Seq[Where])
  final case class Property(query: String, alias: String, unique: Boolean,
                            propName: String, entity: String, namedBy: Option[String])
  /** `props` — relationship properties (reference `nft_nodes.py:834`
    * `RelationshipPropertyAssertion`, SET r.prop in its MERGE schema):
    * (property name, selection alias supplying the value).
    */
  final case class Relation(query: String, srcEntity: String, srcAlias: String,
                            dstEntity: String, dstAlias: String, rel: String,
                            props: Seq[(String, String)] = Nil)
  /** `IN QUERY q a AND b COREFER` (reference `treehorn_yaccer.py:319`):
    * selection aliases a and b name the same entity — their value sets merge.
    */
  final case class Coreference(query: String, aliasA: String, aliasB: String)
  final case class Program(queries: Map[String, Query], properties: Seq[Property],
                           relations: Seq[Relation], coreferences: Seq[Coreference])

  // ----------------------------------------------------------------- lexer
  /** Single-quoted string literals are ONE token (quotes kept, so the
    * literal() stage recognizes them) and may contain spaces, '#', and
    * punctuation — WHERE values like 'Customer#000000101' or 'two words'
    * must survive. '#' starts a comment only OUTSIDE a quoted literal.
    */
  private def tokenize(text: String): Vector[String] = {
    val buf = Vector.newBuilder[String]
    val s = text
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '#') { // comment to end of line
        val nl = s.indexOf('\n', i)
        i = if (nl < 0) s.length else nl + 1
      } else if (c == '\'') {
        val close = s.indexOf('\'', i + 1)
        require(close > 0, s"unterminated string literal at offset $i")
        buf += s.substring(i, close + 1)
        i = close + 1
      } else if (c.isWhitespace) i += 1
      else if (c == ';' || c == ',' || c == '(' || c == ')') { buf += c.toString; i += 1 }
      else {
        val j = s.indexWhere(ch => ch.isWhitespace || ";,()'#".contains(ch), i)
        val end = if (j < 0) s.length else j
        buf += s.substring(i, end)
        i = end
      }
    }
    buf.result()
  }

  // ---------------------------------------------------------------- parser
  def parse(text: String): Program = {
    val toks = tokenize(text)
    var pos = 0
    def peek: String = if (pos < toks.length) toks(pos) else ""
    def next(): String = { val t = peek; pos += 1; t }
    def expect(t: String): Unit = {
      val got = next()
      require(got.equalsIgnoreCase(t), s"expected '$t' but got '$got' at token $pos")
    }
    def labelKey(t: String): (String, String) = {
      val idx = t.indexOf('.')
      require(idx > 0, s"expected label.key, got '$t'")
      (t.substring(0, idx), t.substring(idx + 1))
    }

    val queries = Map.newBuilder[String, Query]
    val props = Seq.newBuilder[Property]
    val rels = Seq.newBuilder[Relation]
    val corefs = Seq.newBuilder[Coreference]

    def parseSelection(): Selection = {
      val t = next()
      if (peek == "(") { // fn ( label.key )
        expect("("); val (l, k) = labelKey(next()); expect(")")
        expect("AS"); Selection(Some(t), l, k, next())
      } else {
        val (l, k) = labelKey(t)
        expect("AS"); Selection(None, l, k, next())
      }
    }

    // condition : ( condition AND|OR condition ) | NOT condition | HAS KEY k
    def parseCondition(): TreeWalk.Cond = {
      if (peek == "(") {
        next()
        val a = parseCondition()
        val op = next()
        val b = parseCondition()
        expect(")")
        if (op.equalsIgnoreCase("AND")) TreeWalk.And(a, b)
        else if (op.equalsIgnoreCase("OR")) TreeWalk.Or(a, b)
        else sys.error(s"expected AND/OR, got '$op'")
      } else if (peek.equalsIgnoreCase("NOT")) {
        next(); TreeWalk.Not(parseCondition())
      } else {
        expect("HAS"); expect("KEY"); TreeWalk.HasKey(next())
      }
    }

    def parseQuery(): Unit = {
      val name = next(); expect("IS"); expect("SELECT")
      val sels = Seq.newBuilder[Selection]
      sels += parseSelection()
      while (peek == ",") { next(); sels += parseSelection() }
      expect("FROM"); val from = next()
      val travs = Seq.newBuilder[TreeWalk.Traversal]
      val wheres = Seq.newBuilder[Where]
      while (!peek.equalsIgnoreCase(";") && peek.nonEmpty) {
        // `START AT TOP` anchors at the root (no-op for the schema walk);
        // the grammar (treehorn_yaccer.py:62 `START AT condition`) also
        // allows an arbitrary condition there, equivalent to an initial
        // GO DOWN — accept `START AT <cond> AS label` in that sense.
        if (peek.equalsIgnoreCase("START")) {
          next(); expect("AT")
          if (peek.equalsIgnoreCase("TOP")) next()
          else {
            val cond = parseCondition()
            expect("AS")
            travs += TreeWalk.GoDown(cond, next())
          }
        }
        else if (peek.equalsIgnoreCase("WHERE")) {
          next()
          var more = true
          while (more) {
            val ref = next(); val op = next(); val v = next()
            wheres += Where(ref, op, v)
            if (peek.equalsIgnoreCase("AND")) next() else more = false
          }
        } else {
          expect("GO")
          val dir = next()
          expect("UNTIL")
          val cond = parseCondition()
          expect("AS")
          val label = next()
          if (dir.equalsIgnoreCase("DOWN")) travs += TreeWalk.GoDown(cond, label)
          else if (dir.equalsIgnoreCase("UP")) travs += TreeWalk.GoUp(cond, label)
          else sys.error(s"expected DOWN/UP, got '$dir'")
        }
      }
      expect(";")
      queries += name -> Query(name, sels.result(), from, travs.result(), wheres.result())
    }

    def parseInQuery(): Unit = {
      val qname = next()
      val subject = next()
      if (peek.equalsIgnoreCase("IS")) {
        next()
        if (peek.equalsIgnoreCase("A")) {
          next()
          val unique = peek.equalsIgnoreCase("UNIQUE")
          if (unique) next()
          expect("PROPERTY"); val propName = next()
          expect("OF"); expect("ENTITY"); val entity = next()
          val namedBy = if (peek.equalsIgnoreCase("NAMED")) {
            next(); expect("BY"); Some(next())
          } else None
          expect(";")
          props += Property(qname, subject, unique, propName, entity, namedBy)
        } else sys.error(s"unsupported assertion at '$peek'")
      } else if (peek.equalsIgnoreCase("NAMED")) {
        next(); expect("BY"); val srcAlias = next()
        expect("IS"); expect("RELATED"); expect("TO"); val dstEntity = next()
        expect("NAMED"); expect("BY"); val dstAlias = next()
        expect("AS"); val rel = next()
        // optional `WITH PROPERTY <name> BY <alias>`, repeatable — the MTL
        // surface for relationship properties (nft_nodes.py:834)
        val rprops = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        while (peek.equalsIgnoreCase("WITH")) {
          next(); expect("PROPERTY"); val pn = next(); expect("BY"); rprops += ((pn, next()))
        }
        expect(";")
        rels += Relation(qname, subject, srcAlias, dstEntity, dstAlias, rel, rprops.toSeq)
      } else if (peek.equalsIgnoreCase("AND")) {
        next(); val other = next(); expect("COREFER"); expect(";")
        corefs += Coreference(qname, subject, other)
      } else sys.error(s"unsupported IN QUERY clause at '$peek'")
    }

    while (pos < toks.length) {
      val t = next()
      if (t.equalsIgnoreCase("QUERY")) parseQuery()
      else if (t.equalsIgnoreCase("IN")) { expect("QUERY"); parseInQuery() }
      else {
        // `foo IS A PYTHON FUNCTION IMPORTED FROM x.y.z;` — skip to ';'
        while (!next().equals(";") && pos < toks.length) {}
      }
    }
    Program(queries.result(), props.result(), rels.result(), corefs.result())
  }

  // -------------------------------------------------------------- executor

  private def literal(v: String): Column =
    if (v.matches("^-?\\d+$")) lit(v.toLong)
    else if (v.matches("^-?\\d*\\.\\d+$")) lit(v.toDouble)
    else if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
      lit(v.substring(1, v.length - 1))
    else lit(v)

  private def comparison(op: String, v: String): Column => Column = {
    val l = literal(v)
    op match {
      case "="          => _ === l
      case "!=" | "<>"  => _ =!= l
      case "<"          => _ < l
      case "<="         => _ <= l
      case ">"          => _ > l
      case ">="         => _ >= l
      case other        => sys.error(s"unsupported WHERE operator '$other'")
    }
  }

  /** Run one named query of the program against a document DataFrame.
    * `functions` resolves MTL function applications (reference: imported
    * Python callables) to Column transforms; `identity` is built in.
    *
    * Compilation semantics: a chain WITHOUT `GO UP` compiles through
    * [[TreeWalk.extractCond]], where every label resolves independently,
    * root-INCLUSIVE, from the document root (TreeHorn's relational-label
    * semantics); any chain WITH `GO UP` compiles through [[TreeWalk.walk]],
    * a sequential strict-descent walk from each step's landing node. For
    * queries whose conditions match exactly one node anywhere in the schema
    * (the reference's `query_text.mtl` style — and every oracled q_mtl*
    * query here) the two agree. If a condition is ambiguous — the root
    * itself matches, or a later GO DOWN's condition also matches outside the
    * earlier match's subtree — they can bind different nodes, exactly as the
    * reference's GoDown-from-root vs GoDown-from-current differ
    * (`treehorn.py:186-285`). MtlParserSpec."compile path divergence" pins
    * this behavior; write unambiguous conditions (e.g. guard with
    * NOT HAS KEY as q_mtl_where does) when mixing semantics.
    */
  def run(df: DataFrame, program: Program, queryName: String,
          functions: Map[String, Column => Column] = Map.empty): DataFrame = {
    val q = program.queries.getOrElse(queryName, sys.error(s"no query '$queryName'"))
    val fns = functions + ("identity" -> identity[Column] _)
    val selects = q.selections.map(s => s"${s.label}.${s.key}" -> s.alias)
    val wheres = q.wheres.map(w => w.ref -> comparison(w.op, w.value))
    val base =
      if (q.travs.exists(_.isInstanceOf[TreeWalk.GoUp]))
        TreeWalk.walk(df, q.travs, selects, where = wheres)
      else
        TreeWalk.extractCond(df, q.travs.map(t => (t.cond, t.label)), selects,
          where = wheres)
    q.selections.filter(_.fn.isDefined).foldLeft(base) { (d, s) =>
      val f = fns.getOrElse(s.fn.get, sys.error(s"unknown MTL function '${s.fn.get}'"))
      d.withColumn(s.alias, f(col(s.alias)))
    }
  }

  /** Run EVERY query of a program over one document frame (the reference's
    * programs — see `query_text.mtl` — routinely hold several QUERY blocks
    * against the same source). The document frame is persisted so N
    * independent traversals cost one evaluation of the upstream pipeline
    * plus N cache reads, not N full re-runs.
    *
    * Caching contract (also [[knowledgeBase]]/[[coreferenceGroups]]): the
    * persisted intermediates stay cached for the session because the
    * returned frames read them lazily; long-lived applications should
    * `spark.catalog.clearCache()` (or `unpersist`) once results are
    * materialized.
    */
  def runProgram(df: DataFrame, program: Program,
                 functions: Map[String, Column => Column] = Map.empty): Map[String, DataFrame] = {
    val shared =
      if (program.queries.size > 1)
        df.trackedPersist()
      else df
    program.queries.keys.map(q => q -> run(shared, program, q, functions)).toMap
  }

  /** Entity tables implied by the program's property assertions: one DF per
    * entity with its key property (UNIQUE / NAMED BY target) first,
    * deduplicated on it.
    */
  def entityTables(df: DataFrame, program: Program, queryName: String,
                   functions: Map[String, Column => Column] = Map.empty): Map[String, DataFrame] = {
    val rows = run(df, program, queryName, functions)
    val byEntity = program.properties.filter(_.query == queryName).groupBy(_.entity)
    byEntity.map { case (entity, ps) =>
      val keyAlias = ps.find(_.unique).map(_.alias)
        .orElse(ps.flatMap(_.namedBy).headOption)
        .getOrElse(ps.head.alias)
      val cols = ps.map(p => col(p.alias).as(p.propName))
      entity -> rows.select(cols: _*).dropDuplicates(
        ps.find(_.alias == keyAlias).map(_.propName).getOrElse(ps.head.propName))
    }
  }

  /** Edge tables from the program's relationship assertions:
    * (src_id, dst_id, rel), distinct.
    */
  def relationTables(df: DataFrame, program: Program, queryName: String,
                     functions: Map[String, Column => Column] = Map.empty): Seq[DataFrame] =
    relationsFromRows(run(df, program, queryName, functions), program, queryName)

  private val propsType = ArrayType(StructType(Seq(
    StructField("k", StringType), StructField("v", StringType))))

  private def relationsFromRows(rows: DataFrame, program: Program,
                                queryName: String): Seq[DataFrame] =
    program.relations.filter(_.query == queryName).map { r =>
      // properties ride as a SORTED array<struct<k,v>> (maps cannot join/
      // distinct in Spark set operations), empty when unasserted — so
      // heterogeneous relations still unionByName
      val propsCol =
        if (r.props.isEmpty) array().cast(propsType)
        else sort_array(array(r.props.map { case (pn, pa) =>
          struct(lit(pn).as("k"), col(pa).cast(StringType).as("v"))
        }: _*))
      rows.select(col(r.srcAlias).as("src_id"), col(r.dstAlias).as("dst_id"),
          propsCol.as("props"))
        .withColumn("rel", lit(r.rel)).distinct()
    }

  /** Entity merge from COREFER assertions (reference `nft_nodes.py` runs a
    * Datalog knowledge base; relationally, coreference is connected
    * components over the bipartite value graph). Values cast to string,
    * undirected edges from each asserted alias pair, then `rounds` of
    * min-label propagation — 2 rounds reach fixpoint for the pairwise
    * star/path components coreference assertions produce; raise `rounds`
    * for longer chains. The edge list ends in an eager localCheckpoint
    * before propagation: the final plan references it `rounds`+1 times,
    * and anything short of lineage truncation re-inlines the whole
    * document pipeline at each reference (for very long chains also
    * checkpoint `lbl` between rounds).
    *
    * Output: (member, canonical) — every coreferring value mapped to the
    * lexicographic minimum of its component.
    */
  /** Compound-name entities (reference `nft_nodes.py:580`
    * `CompoundNameAssertion`: "the unit of analysis for a row is more than
    * one column"). Entity identity = md5 of the ordered component values —
    * the reference mints a `uuid4` per row (nft_nodes.py:655), which is
    * non-deterministic and single-process; a content hash is the
    * distributed equivalent: the same components yield the same entity on
    * every executor, every run, and every engine (so it oracles).
    * Output: (entity_id, components...) distinct.
    */
  def compoundEntities(rows: DataFrame, components: Seq[String],
                       out: String = "entity_id"): DataFrame =
    rows.select(
      md5(concat_ws("|", components.map(c => col(c).cast(StringType)): _*)).as(out)
        +: components.map(col): _*).distinct()

  /** Canonicalized knowledge base (the end product of the reference's
    * Datalog layer: assertions over many rows merge into one graph). Runs
    * the program's relation assertions, then rewrites BOTH endpoints of
    * every edge through the coreference canonical mapping (values outside
    * any coreference component pass through). Output: distinct
    * (src_id, dst_id, rel) over canonical ids — what a graph loader should
    * ingest after entity resolution.
    *
    * The canonical map is group-count sized (distinct coreferring values),
    * so both endpoint rewrites are BROADCAST joins — the edge set itself
    * never shuffles for the rewrite.
    */
  def knowledgeBase(df: DataFrame, program: Program, queryName: String,
                    functions: Map[String, Column => Column] = Map.empty,
                    rounds: Int = 2): DataFrame = {
    // ONE evaluation of the document query feeds both the coreference graph
    // and the edge extraction. EAGER localCheckpoint, not persist: the
    // coreference LP and every relation derivation reference this frame,
    // and a persist leaves the full traversal pipeline in the logical plan
    // at each reference (static plan grew to >300 exchanges before the
    // switch); checkpointing truncates each to an RDD scan.
    val rows = run(df, program, queryName, functions).pinned()
    val canon = coreferenceFromRows(rows, program, queryName, rounds)
    require(program.relations.exists(_.query == queryName),
      s"no relation assertions for query '$queryName'")
    val edges = relationsFromRows(rows, program, queryName)
      .reduce(_ unionByName _)
      .select(col("src_id").cast(StringType).as("src_id"),
        col("dst_id").cast(StringType).as("dst_id"), col("rel"), col("props"))
    val cSrc = broadcast(canon.select(col("member").as("src_id"), col("canonical").as("__cs")))
    val cDst = broadcast(canon.select(col("member").as("dst_id"), col("canonical").as("__cd")))
    edges.join(cSrc, Seq("src_id"), "left").join(cDst, Seq("dst_id"), "left")
      .select(coalesce(col("__cs"), col("src_id")).as("src_id"),
        coalesce(col("__cd"), col("dst_id")).as("dst_id"), col("rel"), col("props"))
      .distinct()
  }

  def coreferenceGroups(df: DataFrame, program: Program, queryName: String,
                        functions: Map[String, Column => Column] = Map.empty,
                        rounds: Int = 2): DataFrame =
    coreferenceFromRows(run(df, program, queryName, functions), program,
      queryName, rounds)

  /** Min-label propagation over the COREFER graph, a FIXED number of
    * rounds (the q_coreference oracle replays exactly this round
    * structure). Pointer jumping (label ← label(label), see
    * [[graft.dedup.Dedup.dupClusters]]) was measured here and REJECTED:
    * with rounds fixed at 2 it cannot cut rounds, only add one exchange
    * per round, and q_kb_canonical read 3.34s plain vs 3.51s jumped at
    * sf0.1 (noise-level — the cost is the document traversal, not the
    * two label rounds). Route DEEP coreference graphs through
    * dupClusters, whose jumped fixpoint loop is 7× faster on chains.
    */
  private def coreferenceFromRows(rows: DataFrame, program: Program,
                                  queryName: String, rounds: Int): DataFrame = {
    val corefs = program.coreferences.filter(_.query == queryName)
    require(corefs.nonEmpty, s"no COREFER assertions for query '$queryName'")
    val e = corefs.map { cr =>
      rows.select(col(cr.aliasA).cast(StringType).as("a"),
        col(cr.aliasB).cast(StringType).as("b"))
    }.reduce(_ unionByName _)
      .filter(col("a").isNotNull && col("b").isNotNull)
      .distinct()
    // eager checkpoint: materialize once AND truncate lineage — every LP
    // round references this edge list (see knowledgeBase note)
    val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b"))).distinct()
      .pinned()
    var lbl = und.select(col("a").as("id")).distinct().withColumn("lbl", col("id"))
    for (_ <- 0 until rounds) {
      val nb = und.join(lbl.select(col("id").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy("a").agg(min(col("nlbl")).as("mn"))
      lbl = lbl.join(nb.select(col("a").as("id"), col("mn")), "id")
        .select(col("id"), least(col("lbl"), col("mn")).as("lbl"))
    }
    lbl.select(col("id").as("member"), col("lbl").as("canonical"))
  }

  /** Single Datalog rule application (reference `nft_nodes.py` rule firing,
    * the non-recursive case): `outRel(a, c) :- rel1(a, b), rel2(b, c)` —
    * one equi-join on the shared variable, distinct heads. Compose with
    * [[inferTransitive]] for recursive rules; chain calls for longer rule
    * bodies (each extra body atom is one more join).
    */
  def applyRule(edges: DataFrame, rel1: String, rel2: String,
                outRel: String): DataFrame = {
    val e1 = edges.filter(col("rel") === rel1)
      .select(col("src_id"), col("dst_id").as("__mid"))
    val e2 = edges.filter(col("rel") === rel2)
      .select(col("src_id").as("__mid"), col("dst_id"))
    e1.join(e2, "__mid")
      .select(col("src_id"), col("dst_id")).distinct()
      .withColumn("rel", lit(outRel))
  }

  /** Datalog-style transitive inference over a knowledge-base edge table
    * (the derivation layer of the reference's assertion KB,
    * `node_classes/nft_nodes.py` — rules fire until no new facts appear).
    * Derives `outRel(x, z) :- rel(x, y), rel*(y, z)`: the transitive
    * closure of `rel`, emitted as new edges labeled `outRel`. A pair is in
    * the result when a path of 1 to 2^maxRounds edges joins it; cycles
    * reach their own nodes. Null ids ride along in the base edges but
    * never join: a path does not continue through a null.
    *
    * Two paths, same rows. The distinct edge list is built once and
    * fetched up to one row past the ceiling; at or under
    * [[DriverEdgeCeiling]] edges the closure runs on the driver
    * ([[closureDriver]]: a bounded breadth-first search from every source,
    * returned as a local relation) unless it derives more than
    * [[DriverPairCap]] pairs — a long chain's closure grows quadratically
    * — in which case that result is dropped. Otherwise the closure runs as
    * Spark jobs over the edge list, pinned from the same build
    * ([[closureSpark]]), the only path for graphs larger than driver
    * memory. The jobs carry the description "inferTransitive: driver" (the
    * fetch) or "inferTransitive: spark" after the path that ran
    * ([[graft.Checkpoints.onDriverOrPinned]]).
    *
    * Output: (src_id, dst_id, rel=outRel) — the closure, base edges
    * included.
    */
  def inferTransitive(edges: DataFrame, rel: String, outRel: String,
                      maxRounds: Int = 20): DataFrame = {
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    val base = closureEdges(edges, rel)
    val ids = base.schema.map(_.dataType).distinct
    if (ids.size == 1 && DriverIdTypes(ids.head))
      Checkpoints.onDriverOrPinned(base, DriverEdgeCeiling, "inferTransitive")(
        closureDriver(base.sparkSession, _, base.schema, outRel, maxRounds))(
        closureSpark(_, outRel, maxRounds))
    else closureSpark(Jobs.labeled(base.sparkSession, "inferTransitive: spark") {
      base.pinned()
    }, outRel, maxRounds)
  }

  /** Most distinct edges [[inferTransitive]] closes on the driver. */
  private[graft] val DriverEdgeCeiling = 65536
  /** Most pairs a driver closure may derive before it is dropped for the
    * Spark path: a local relation this size is a few MB of rows.
    */
  private[graft] val DriverPairCap = 1 << 18

  /** Id types whose JVM equality is Spark's join equality. */
  private val DriverIdTypes = Set[DataType](StringType, IntegerType, LongType)

  /** (src_id, dst_id): the distinct `rel` edges, the state both
    * [[inferTransitive]] paths start from.
    */
  private[graft] def closureEdges(edges: DataFrame, rel: String): DataFrame =
    edges.filter(col("rel") === rel).select(col("src_id"), col("dst_id")).distinct()

  /** [[inferTransitive]] on the driver over the collected [[closureEdges]]
    * rows (`schema` is that frame's, ids of one [[DriverIdTypes]] type), or
    * None when the closure passes [[DriverPairCap]].
    */
  private[graft] def closureDriver(spark: SparkSession, rows: Array[Row], schema: StructType,
                                   outRel: String, maxRounds: Int): Option[DataFrame] = {
    // nodes are array indices; java's HashMap takes the null id as a key
    val index = new java.util.HashMap[Any, Integer]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def node(v: Any): Int = {
      val i = index.get(v)
      if (i != null) i else { index.put(v, ids.size); ids += v; ids.size - 1 }
    }
    val es = rows.map(r => (node(r.get(0)), node(r.get(1))))
    val out = Array.fill(ids.size)(scala.collection.mutable.ArrayBuffer.empty[Int])
    es.foreach { case (s, d) => out(s) += d }
    val nullNode = Option(index.get(null)).fold(-1)(_.intValue)
    val maxHops = if (maxRounds >= 31) Int.MaxValue else 1 << maxRounds
    val seenBy = Array.fill(ids.size)(-1)
    // (source << 32 | target) node pairs; rows are built only under the cap
    val pairs = new scala.collection.mutable.ArrayBuilder.ofLong
    // semi-naive per source: each hop expands only the nodes first reached
    // on the hop before, so a node's shortest path decides whether it is
    // within maxHops; a null id is a source but never a mid
    for (s <- ids.indices if out(s).nonEmpty) {
      var frontier = Seq(s)
      var hops = 0
      while (frontier.nonEmpty && hops < maxHops) {
        hops += 1
        frontier = for {
          v <- frontier if hops == 1 || v != nullNode
          t <- out(v) if seenBy(t) != s
        } yield { seenBy(t) = s; pairs += (s.toLong << 32 | t); t }
      }
      if (pairs.length > DriverPairCap) return None
    }
    val closed = pairs.result().toSeq.map(p => Row(ids((p >>> 32).toInt), ids(p.toInt), outRel))
    Some(spark.createDataFrame(closed.asJava, schema.add("rel", StringType, nullable = false)))
  }

  /** [[inferTransitive]] as Spark jobs over the pinned [[closureEdges]]
    * `edges`, by path doubling: each round joins the closure-so-far with
    * ITSELF, so reachable path length doubles per round and a diameter-d
    * graph saturates in ceil(log2(d)) rounds — a 25-hop chain costs 5
    * shuffles, not 24. Fixpoint = a round whose distinct-count does not
    * grow; cycles terminate because the closure is a set and can only grow
    * to n²; `maxRounds` still bounds the loop (2^maxRounds hops).
    *
    * Each round ends in an EAGER pin, not a persist: caching
    * short-circuits recomputation but leaves the *logical* plan intact, and
    * this loop references the closure-so-far four times per round, so the
    * analyzed tree grows ~4^rounds and Catalyst analysis goes exponential
    * (measured: round ~10 pinned the driver for minutes before any task
    * ran). Pinning truncates lineage to an RDD scan — constant-size plans,
    * constant per-round analysis cost — and frees the round before it
    * (`edges` included), which is released as soon as the new pin has
    * materialized; the returned frame reads the one pin left.
    */
  private[graft] def closureSpark(edges: DataFrame, outRel: String,
                                  maxRounds: Int): DataFrame =
    Jobs.labeled(edges.sparkSession, "inferTransitive: spark") {
      var all = edges
      var prevN = all.count()
      var round = 0
      var deltaN = prevN
      while (deltaN > 0 && round < maxRounds) {
        val next = all.select(col("src_id"), col("dst_id").as("__mid"))
          .join(all.select(col("src_id").as("__mid"), col("dst_id")), "__mid")
          .select(col("src_id"), col("dst_id"))
        // ONE distinct over (old ∪ new) both dedups the join output and
        // subsumes the fresh-pair anti-join: growth is detected by the count
        // delta, so the round costs 2 shuffles (join + distinct), not 4
        // (join, distinct, anti-join, distinct).
        val grown = all.union(next).distinct().pinned()
        val grownN = grown.count()
        Checkpoints.release(all)
        deltaN = grownN - prevN
        prevN = grownN
        all = grown
        round += 1
      }
      all.withColumn("rel", lit(outRel))
    }
}
