package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.Caching.TrackedSyntax

/** Config-built pipelines (reference `DynamicClassMediator`, node.py:1555,
  * 1672: pipelines assembled from config dicts instead of code).
  *
  * The config is JSON (parsed with the Jackson shipped inside Spark — no
  * extra dependency); each stage is `{"name", "op", ...}` and compiles onto
  * the [[Pipeline]] builder, so config pipelines get identical planning —
  * including fan-out persistence — to programmatic ones. Expressions are
  * Spark SQL strings (`expr(...)`), the declarative analogue of the
  * reference's config-referenced Python callables.
  *
  * Ops: `table` (dir/table), `parquet` (path), `stream_dir`
  * (path/format/schema/maxFilesPerTrigger — a STREAMING source: the
  * reference's directory watchdog from config; projection/filter stages
  * apply unchanged; STATEFUL stages compose as `watermark` (ts/delay) →
  * `time_window` (ts/duration[/slide][/as]) → `agg` keyed on the window
  * column — append mode then finalizes each window as the watermark
  * passes its end. `RunPipeline` drains streaming terminals via
  * foreachBatch; its optional outputMode arg selects `update` for
  * changelog-style aggs instead), `csv_permissive`
  * (path/schema — malformed rows land in `_corrupt_record`), `filter`
  * (expr), `select` (exprs), `withColumn` (name/expr), `agg` (keys/aggs),
  * `union` (from[]), `join` (from[2], on, how), `limit` (n), `distinct`,
  * `sample` (key/mod), `error_budget` (maxErrors[, expr] — drop up to N
  * bad rows, fail past the budget; reference max_errors), `json_schema`
  * (json + inline `schema` — validate each message against a JSON-Schema
  * subset: types/required/enum/nested; mode annotate (default) / filter /
  * enforce+maxErrors — the reference's JsonValidator experiment, working).
  *
  * Training-pipeline ops (SURVEY §2.G from config, so a config-driven user
  * reaches the whole library): `dedup_exact` (id/text), `dedup_best`
  * (id/key/score), `dedup_near` (id/text[, numHashes/bands/rowsPerBand/
  * maxBucket] — the minhash→LSH→components→keep-canonical flagship;
  * compose after `dedup_exact` on dup-heavy corpora), `sessionize` (keys/ts/gap), `pack`
  * (keys/order/weight/budget), `split` (id/trainPct),
  * `langid`/`fingerprint`/`repetition`/`span_dedup`/`span_dedup_clean`/
  * `boilerplate` (id/text/window/minDocFreq — drop over-common chunks
  * from every doc)/
  * `chunk`/`lm_xent`/`lm_xent_bigram`/`dsir`/`tfidf`/`inverted_index`
  * (id/text...), `mixture` (id/group/weights), `temperature_sample`
  * (id/group/total[, alpha=0.5] — quotas ∝ n^α), `pagerank` (edge
  * frames[, iters=5, danglingRedistribute — r12: exact even-share
  * redistribution of sink mass])/`degrees`,
  * `quality_classifier` (id/text/dim + a weights stage),
  * `histogram` (value/bins), `sample_per_group` (keys/id/n),
  * `canonical_url` (url[, as]), `normalize_unicode` (text[, form=NFC,
  * as]), `encoding_stats` (id/text — mojibake/control/non-ASCII/NFC-drift
  * signals), `script_stats` (id/text — per-script counts + main_script),
  * `c4_clean` (text[, minWords=3, as] — C4 doc gate + line-quality rules),
  * `bm25` (terms/k + id/text, or `indexDir` to probe a stored lexical
  * index without re-scanning),
  * `html_text` (html[, as] — strip script/style/comments/tags,
  * decode entities), `html_stats` (id/html — tag/link/script counts +
  * visible-text fraction), `rrf_fuse` (fan-in: `from` = 2+ ranked-list
  * stages, query/id/rank/topK[, k0=60] — Reciprocal Rank Fusion),
  * `percentiles` (keys/value/ps[{p,as}] —
  * mode "approx" by default: bounded-state percentile_approx with an
  * `accuracy` knob; mode "exact" for the oracle-grade quantile),
  * `distinct_sketch` (keys/value — method "kmv" with knob `k`, or "hll"
  * with knob `rsd`: the fixed-register HyperLogLog++ sketch),
  * `decontaminate` (id/text + `bench` = a prior stage's output[,
  * benchText/k/minHits] — method "exact" broadcasts the bench shingle
  * set, "bloom" [fpp/expectedItems] probes a sketch then exact-verifies:
  * the too-big-to-broadcast bench, identical output), `token_budget`
  * (id/group/text/budgets — method "exact" fills per-group token targets
  * in md5(id) order, "rate" is the zero-shuffle bucket approximation),
  * `snapshot_diff` (id/text + `old` = a prior stage holding the previous
  * snapshot — rows gain status added/removed/changed/unchanged),
  * `band_keys` (id/text[, numHashes/bands/rowsPerBand] — the LSH index
  * builder) + `neardup_incremental` (id/text + `index` = a band_keys
  * stage or a stored index table — per-doc dup_of_corpus verdicts without
  * re-reading corpus text) + `index_delta` (id/text + `index` + `retired`
  * = a stage of ids to drop; `from` = this generation's admitted docs —
  * retire-then-append maintenance keeping the stored index ≡ a
  * from-scratch rebuild), streaming
  * twins `stream_dedup` (ts/delay/keys), `stream_keepbest`
  * (key/id/score), `stream_repetition` (id/text/n), `stream_neardup`
  * (id/text[, numHashes/bands/rowsPerBand] — integral ids),
  * `stream_spandedup` (id/text[, window] — integral ids), `ann`
  * (from[2] = queries/corpus stages + id/vec/k; the IVF-routed methods
  * take `trained` for the coarse quantizer, default true — the r12
  * library default — method "brute", "ivf"
  * [nlist/nprobe], "lsh" [dim/numPlanes/bands], "ivfpq"
  * [dim/m/codebookK/nlist/nprobe, optional mShort+rerank for the exact
  * re-rank recall lever], "sq" [dim — byte codes + asymmetric
  * distance; optional nlist/nprobe switch to the IVF-routed form],
  * or "jl" [dim/outDim — top-k in the sign-projected space]),
  * `jl_project` (vec/dim/outDim[, seed] — standalone JL reduction),
  * stored-index BUILD ops (r12 — a config can stand an index up, then
  * probe it in the same pipeline: stages resolve in declaration order):
  * each writing ONE generation of a pointer dir, its model beside its
  * data: `ann_index_write` (id/vec/dim/m/codebookK/dir[, nlist=64,
  * trained=true] — coarse/codebooks[/rotation]/codes), `sq_index_write`
  * (id/vec/dim/dir[, nlist=64, trained=true] — scales/coarse/codes),
  * `maxsim_index_write` (id/pos/vec/dir[, nlist=8, trained=true] —
  * meta/coarse and the gathered token matrices `mats`),
  * `lex_index_write` (id/text/dir[, buckets=64] —
  * postings/doclens/stats/terms; probe with `bm25` + `indexDir`),
  * `sq_index_probe`/`sq_index_delta` (the stored IVF-SQ index twins of
  * `ann_index_probe`/`ann_index_delta`; a delta stage's output is the
  * maintained table, which `Sinks.swapWrite` to `dir/codes` or
  * `dir/mats` stores as the next generation, model carried),
  * `maxsim_index_probe`/`maxsim_index_delta` (the stored late-interaction
  * index: id/pos/vec token rows, dir, k/nprobe/mShort — scale comes from
  * the model), `maxsim_pooled` (from[2] = [queries, corpus] — the
  * SUM-pooled coarse retriever) and `maxsim_rerank` (from[3] =
  * [candidates, queries, corpus] — exact-MaxSim settle of a fused
  * candidate frame, the hybrid-stack tail),
  * layout ops `zorder` (cols[, bits] — adds the
  * Morton `zval` that `Sinks.zorderWrite` clusters by) and
  * `corpus_shuffle` (id/seed/shards — adds the deterministic training
  * shard + in-shard position), `manifest` (shard/id/text — per-shard
  * row count, char sum, and order-independent xor content digest: the
  * export-integrity check), `corpus_overlap` (from[2] = the two
  * corpora + text[, ngram/k] — KMV resemblance/containment without a
  * cross-corpus join), `soft_dedup` (id/text[, banding knobs] —
  * near-dup clusters → inverse-count sampling weights instead of
  * drops), `ccnet_buckets` (id/text[, buckets] — perplexity tiers by
  * rank cutoffs, bucket 0 = head).
  */
object ConfigPipeline {

  /** `${NAME}` placeholders in config text substitute from the environment
    * (+ explicit `extra` bindings, which win) — the reference templates its
    * YAML configs through jinja with environment lookups
    * (`bin/metalpipe:46-60`, `GetEnvironmentVariables` node.py:1145).
    * Unknown placeholders fail loudly: a silently-unsubstituted
    * `${MYSQL_HOST}` becomes a confusing downstream connection error.
    */
  def render(template: String, extra: Map[String, String] = Map.empty): String = {
    val pat = java.util.regex.Pattern.compile("\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}")
    val m = pat.matcher(template)
    val out = new java.lang.StringBuilder
    while (m.find()) {
      val name = m.group(1)
      val v = extra.getOrElse(name, sys.env.getOrElse(name,
        sys.error(s"config placeholder $${$name} is not bound (env or extra)")))
      m.appendReplacement(out, java.util.regex.Matcher.quoteReplacement(v))
    }
    m.appendTail(out)
    out.toString
  }

  def fromJson(spark: SparkSession, json: String): Pipeline = {
    val root = new ObjectMapper().readTree(json)
    val stages = root.get("stages")
    require(stages != null && stages.isArray, "config needs a 'stages' array")
    stages.elements().asScala.zipWithIndex
      .foldLeft(Pipeline.empty) { case (p, (s, i)) =>
        // every config mistake — misspelled op, missing knob, dangling
        // `from` — surfaces with the stage INDEX and name, because a JSON
        // author counts stages, not Scala stack frames. Knob errors inside
        // deferred stage lambdas carry their own context (see `knob`), so
        // only wrap the ones that don't.
        try addStage(spark, p, s, i)
        catch {
          case e: RuntimeException
              if !Option(e.getMessage).exists(_.startsWith("config stage")) =>
            val nm = Option(s.get("name")).map(_.asText()).getOrElse("<unnamed>")
            val op = Option(s.get("op")).map(_.asText()).getOrElse("<no op>")
            sys.error(s"config stage #$i '$nm' (op '$op'): ${e.getMessage}")
        }
      }
  }

  /** Every op `fromJson` accepts, alphabetized — quoted in the unknown-op
    * diagnostic so a typo'd config names its fix. */
  val validOps: Seq[String] = Seq(
    "agg", "ann", "ann_index_delta", "ann_index_probe", "ann_index_write",
    "band_keys",
    "bm25",
    "boilerplate", "c4_clean", "canonical_url", "ccnet_buckets", "chunk",
    "cluster_sample",
    "corpus_overlap", "corpus_report", "corpus_shuffle", "csv_permissive",
    "decode_features",
    "decontaminate", "dedup_best",
    "dedup_exact", "dedup_near", "degrees", "distinct", "distinct_sketch",
    "distribution_drift", "dsir", "encoding_stats", "error_budget", "filter",
    "fingerprint",
    "flatten", "gram", "heavy_hitters", "histogram", "html_stats", "html_text",
    "index_delta", "inverted_index", "jl_project", "join", "json_schema",
    "kcenter",
    "langid", "lex_index_write", "limit", "manifest",
    "lm_xent", "lm_xent_bigram", "margin_mine", "maxsim",
    "maxsim_index_delta", "maxsim_index_probe", "maxsim_index_write",
    "maxsim_pooled",
    "maxsim_rerank", "mixture",
    "neardup_incremental", "normalize_unicode",
    "pack", "pagerank", "parquet", "pca_rotate", "percentiles",
    "quality_classifier",
    "repetition", "rrf_fuse", "sample", "sample_per_group", "script_stats",
    "select", "session_tag", "sessionize",
    "snapshot_diff", "soft_dedup", "span_dedup", "span_dedup_clean", "split",
    "sq_index_delta", "sq_index_probe", "sq_index_write",
    "substring_dedup", "substring_dedup_clean",
    "stream_dedup", "stream_dir", "stream_keepbest", "stream_neardup",
    "stream_repetition", "stream_spandedup", "stream_substringdedup",
    "stream_winnow",
    "table", "temperature_sample",
    "tfidf", "time_window", "token_budget", "union", "watermark",
    "winnow_index_delta", "winnow_prints", "winnow_probe",
    "winnowed_dedup", "withColumn", "zorder")

  private def strs(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  /** Exactly-two-input extraction for fan-in ops: a one- or three-element
    * `from` must name the op and the requirement (the file's posture: a
    * typo'd config names its fix), not die as a bare scala.MatchError.
    */
  private def two(n: JsonNode, op: String): (String, String) =
    strs(n) match {
      case Seq(a, b) => (a, b)
      case other => throw new IllegalArgumentException(
        s"$op needs exactly two input stages in 'from', got ${other.length}: " +
          other.mkString("[", ", ", "]"))
    }

  private def addStage(spark: SparkSession, p: Pipeline, s: JsonNode,
                       idx: Int): Pipeline = {
    // required-knob accessor: absent fields fail with the knob's NAME and
    // the full stage context (the bare Jackson `.get` would NPE with no
    // message). Context lives HERE, not only in fromJson's wrapper, because
    // most knob reads sit inside deferred stage lambdas that first run at
    // build()/output() time. Optional knobs keep their `s.has` guards.
    def knob(field: String): JsonNode =
      if (s.has(field)) s.get(field)
      else {
        val nm = Option(s.get("name")).map(_.asText()).getOrElse("<unnamed>")
        val op = Option(s.get("op")).map(_.asText()).getOrElse("<no op>")
        sys.error(s"config stage #$idx '$nm' (op '$op'): " +
          s"missing required knob '$field'")
      }
    val name = knob("name").asText()
    def from = knob("from").asText()
    knob("op").asText() match {
      case "table" =>
        p.source(name, Tables.load(spark, knob("dir").asText(), knob("table").asText()))
      case "parquet" =>
        p.source(name, spark.read.parquet(knob("path").asText()))
      // STREAMING source from config — the reference's LocalDirectoryWatchdog
      // as a `bin/metalpipe <config>` stage (its configs wire streaming nodes;
      // ours compile onto the same Pipeline DAG, which hands streaming frames
      // through untouched — downstream projection/filter ops work unchanged,
      // stateful ops need a `watermark` stage first). Drive the terminal
      // stage with RunPipeline (drains via foreachBatch) or
      // Streams.toForeachBatch.
      case "stream_dir" =>
        p.source(name, graft.streaming.Streams.watchDirectory(spark,
          knob("path").asText(),
          format = if (s.has("format")) knob("format").asText() else "text",
          schemaDdl = if (s.has("schema")) Some(knob("schema").asText()) else None,
          maxFilesPerTrigger =
            if (s.has("maxFilesPerTrigger")) knob("maxFilesPerTrigger").asInt() else 100))
      // event-time watermark (bounds stateful streaming ops' state)
      case "watermark" =>
        p.stage(name, from)(_.withWatermark(knob("ts").asText(),
          knob("delay").asText()))
      // event-time window COLUMN (ts/duration[/slide][/as]) — the group key
      // that makes streaming aggregation expressible from config: watermark →
      // time_window → agg over the window column finalizes groups in append
      // mode as the watermark passes each window's end (a plain-key streaming
      // agg under append would never finalize; Spark rejects it)
      case "time_window" =>
        val as = if (s.has("as")) knob("as").asText() else "window"
        val ts = col(knob("ts").asText()); val dur = knob("duration").asText()
        val w = if (s.has("slide")) window(ts, dur, knob("slide").asText())
                else window(ts, dur)
        p.stage(name, from)(_.withColumn(as, w))
      // permissive CSV: malformed rows arrive as DATA in _corrupt_record
      // instead of failing the read — feed an "error_budget" stage
      // (reference MetalNode max_errors: tolerate N bad messages). The
      // parsed frame persists: Spark refuses queries that reference ONLY
      // the corrupt-record column from a raw file scan (the budget count
      // is such a query) and documents caching as the contract; the budget
      // gate reads the input twice anyway.
      case "csv_permissive" =>
        val schema = org.apache.spark.sql.types.StructType
          .fromDDL(knob("schema").asText())
          .add("_corrupt_record", org.apache.spark.sql.types.StringType)
        p.source(name, spark.read
          .option("header", if (s.has("header")) knob("header").asText() else "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(schema).csv(knob("path").asText())
          .trackedPersist())
      case "error_budget" =>
        val pred = if (s.has("expr")) expr(knob("expr").asText())
                   else col("_corrupt_record").isNotNull
        val dropCorrupt = !s.has("expr")
        p.stage(name, from) { d =>
          val gated = graft.operators.Ops.errorBudget(d, pred,
            knob("maxErrors").asLong())
          if (dropCorrupt && gated.columns.contains("_corrupt_record"))
            gated.drop("_corrupt_record")
          else gated
        }
      // JSON-Schema message validation gate (the reference's JsonValidator
      // experiment, working form): annotate every row with its violations
      // against an inline schema, optionally keep only valid rows
      // ("mode": "filter") or abort past an error budget ("mode":
      // "enforce" + maxErrors — Ops.errorBudget over the invalid rows).
      case "json_schema" =>
        val schemaText = knob("schema").toString // the schema node verbatim
        val jcol = knob("json").asText()
        val mode = if (s.has("mode")) knob("mode").asText() else "annotate"
        p.stage(name, from) { d =>
          mode match {
            case "annotate" =>
              graft.schema.JsonSchemaGate.validate(d, jcol, schemaText)
            // filter discards every appended column, so skip the typed
            // from_json parse entirely — one JSON parse per row, not two
            case "filter" =>
              graft.schema.JsonSchemaGate
                .validate(d, jcol, schemaText, parsedCol = None)
                .filter(col("is_valid")).drop("violations", "is_valid")
            case "enforce" => graft.operators.Ops.errorBudget(
              graft.schema.JsonSchemaGate.validate(d, jcol, schemaText),
              !col("is_valid"), knob("maxErrors").asLong())
            case other => throw new IllegalArgumentException(
              s"json_schema mode must be annotate/filter/enforce, got $other")
          }
        }
      case "filter" =>
        p.stage(name, from)(_.filter(expr(knob("expr").asText())))
      case "select" =>
        p.stage(name, from)(_.selectExpr(strs(knob("exprs")): _*))
      case "withColumn" =>
        p.stage(name, from)(_.withColumn(knob("col").asText(), expr(knob("expr").asText())))
      case "agg" =>
        val keys = strs(knob("keys"))
        val aggs = strs(knob("aggs")).map(expr)
        // optional "mode": rollup | cube — hierarchical subtotals in the
        // same single Expand+aggregate pass
        val mode = if (s.has("mode")) knob("mode").asText() else "group"
        p.stage(name, from)(d => (mode match {
          case "group"  => d.groupBy(keys.map(col): _*)
          case "rollup" => d.rollup(keys.map(col): _*)
          case "cube"   => d.cube(keys.map(col): _*)
          case other    => sys.error(s"unknown agg mode '$other'")
        }).agg(aggs.head, aggs.tail: _*))
      case "union" =>
        p.fanIn(name, strs(knob("from")))()
      case "join" =>
        val (l, r) = two(knob("from"), "join")
        val how = if (s.has("how")) knob("how").asText() else "inner"
        p.fanIn(name, Seq(l, r))(dfs => dfs(0).join(dfs(1), expr(knob("on").asText()), how))
      // hybrid-retrieval fusion (G56): fan-in over N ranked lists, each
      // carrying (query/id/rank); contributions 1e6 div (k0 + rank)
      case "rrf_fuse" =>
        val inputs = strs(knob("from"))
        require(inputs.size >= 2,
          s"rrf_fuse needs at least two input stages in 'from', got ${inputs.size}")
        val k0 = if (s.has("k0")) knob("k0").asInt() else 60
        p.fanIn(name, inputs)(dfs => graft.similarity.Search.rrfFuse(dfs,
          knob("query").asText(), knob("id").asText(), knob("rank").asText(),
          knob("topK").asInt(), k0))
      // per-shard integrity manifest (count / chars / xor digest) of a
      // sharded frame — typically a corpus_shuffle stage's output
      case "manifest" =>
        p.stage(name, from)(graft.operators.Ops.shardManifest(_,
          knob("shard").asText(), knob("id").asText(), knob("text").asText()))
      case "limit" =>
        p.stage(name, from)(_.limit(knob("n").asInt()))
      case "distinct" =>
        p.stage(name, from)(_.distinct())
      case "sample" =>
        p.stage(name, from)(graft.operators.Ops.modSample(_, knob("key").asText(),
          knob("mod").asInt()))
      case "dedup_exact" =>
        p.stage(name, from)(graft.dedup.Dedup.exact(_, knob("id").asText(),
          knob("text").asText()))
      // the near-dup flagship from config: zero-shuffle minhash → guarded
      // LSH banding → pointer-jumped components → keep each cluster's
      // canonical row (non-members pass through). Run dedup_exact FIRST on
      // dup-heavy corpora (plans/SCALE.md: the composition returns the
      // collapsed-corpus answer 2.4x faster at 10x replication).
      case "dedup_near" =>
        val id = knob("id").asText(); val text = knob("text").asText()
        val numHashes = if (s.has("numHashes")) knob("numHashes").asInt() else 16
        val bands = if (s.has("bands")) knob("bands").asInt() else 4
        val rpb = if (s.has("rowsPerBand")) knob("rowsPerBand").asInt() else 4
        val maxBucket = if (s.has("maxBucket")) knob("maxBucket").asInt() else 1 << 12
        // metric name derives from the stage name so two dedup_near stages
        // can feed one output (observed-metric names must be unique per query)
        p.stage(name, from)(graft.dedup.Dedup.keepCanonical(_, id, text,
          numHashes, bands, rpb, maxBucket,
          metricName = s"${name}_lsh_bucket_guard"))
      case "dedup_best" =>
        p.stage(name, from)(graft.dedup.Dedup.exactKeepBest(_,
          knob("id").asText(), knob("key").asText(), knob("score").asText()))
      // the LSH index builder (write its output once; probe it every batch)
      case "band_keys" =>
        val numHashes = if (s.has("numHashes")) knob("numHashes").asInt() else 16
        val bands = if (s.has("bands")) knob("bands").asInt() else 4
        val rpb = if (s.has("rowsPerBand")) knob("rowsPerBand").asInt() else 4
        p.stage(name, from)(graft.dedup.Dedup.bandKeysOf(_,
          knob("id").asText(), knob("text").asText(), numHashes, bands, rpb))
      // incremental near-dedup: probe this stage's docs against `index`
      // (a prior band_keys stage, or a table stage reading a stored index)
      case "neardup_incremental" =>
        val index = p.output(knob("index").asText())
        val numHashes = if (s.has("numHashes")) knob("numHashes").asInt() else 16
        val bands = if (s.has("bands")) knob("bands").asInt() else 4
        val rpb = if (s.has("rowsPerBand")) knob("rowsPerBand").asInt() else 4
        p.stage(name, from)(graft.dedup.Dedup.incrementalNearDup(_,
          knob("id").asText(), knob("text").asText(), index,
          numHashes, bands, rpb))
      // the winnow-prints index builder (the substring-family band_keys)
      case "winnow_prints" =>
        p.stage(name, from)(graft.dedup.Dedup.winnowedPrints(_,
          knob("id").asText(), knob("text").asText(),
          if (s.has("k")) knob("k").asInt() else 8,
          if (s.has("w")) knob("w").asInt() else 4))
      // incremental substring-contamination probe against a stored prints
      // index (a prior winnow_prints stage or a table stage)
      case "winnow_probe" =>
        val index = p.output(knob("index").asText())
        p.stage(name, from)(graft.dedup.Dedup.winnowProbe(_,
          knob("id").asText(), knob("text").asText(), index,
          if (s.has("k")) knob("k").asInt() else 8,
          if (s.has("w")) knob("w").asInt() else 4,
          if (s.has("minHits")) knob("minHits").asInt() else 1))
      // exact quantized scatter matrix (the PCA/OPQ input) — (i, j, s) rows
      case "gram" =>
        p.stage(name, from)(graft.similarity.Pca.gram(_,
          knob("vec").asText(), knob("dim").asInt(),
          if (s.has("scale")) knob("scale").asDouble() else 1048576.0))
      // fit-and-rotate: ONE parametric OPQ rotation from this stage's own
      // second moments, applied in place (vec column replaced)
      case "pca_rotate" =>
        p.stage(name, from) { d =>
          graft.similarity.Pca.rotateAll(d, knob("vec").asText(),
            graft.similarity.Pca.rotation(d, knob("vec").asText(),
              knob("dim").asInt(),
              if (s.has("scale")) knob("scale").asDouble() else 1048576.0))
        }
      // ---- stored-index BUILD ops (r12): the config path can now stand
      // an index UP, not just probe/maintain one — "the config path IS
      // the 100 TB path". Each writes the index eagerly when its stage
      // resolves (stages resolve in declaration order, so a later probe
      // stage in the same config reads the finished layout) and emits a
      // one-row summary frame (dir + the frozen build knobs) as its
      // output. `trained` (default true — the library-wide r12 default)
      // switches the coarse quantizer; every family forwards it.
      case "ann_index_write" =>
        val id = knob("id").asText(); val vec = knob("vec").asText()
        val dir = knob("dir").asText()
        val dim = knob("dim").asInt(); val m = knob("m").asInt()
        val ck = knob("codebookK").asInt()
        val nlist = if (s.has("nlist")) knob("nlist").asInt() else 64
        val trained = if (s.has("trained")) knob("trained").asBoolean() else true
        p.stage(name, from) { d =>
          graft.similarity.Pq.writeIndex(d, id, vec, dim, m, ck, dir,
            nlist = nlist, trained = trained)
          val sp = d.sparkSession; import sp.implicits._
          Seq((dir, nlist.toLong, m.toLong, ck.toLong, trained))
            .toDF("dir", "nlist", "m", "codebook_k", "trained")
        }
      case "sq_index_write" =>
        val id = knob("id").asText(); val vec = knob("vec").asText()
        val dir = knob("dir").asText(); val dim = knob("dim").asInt()
        val nlist = if (s.has("nlist")) knob("nlist").asInt() else 64
        val trained = if (s.has("trained")) knob("trained").asBoolean() else true
        p.stage(name, from) { d =>
          graft.similarity.Sq.writeIndex(d, id, vec, dim, dir,
            nlist = nlist, trained = trained)
          val sp = d.sparkSession; import sp.implicits._
          Seq((dir, nlist.toLong, dim.toLong, trained))
            .toDF("dir", "nlist", "dim", "trained")
        }
      case "maxsim_index_write" =>
        val id = knob("id").asText(); val pos = knob("pos").asText()
        val vec = knob("vec").asText(); val dir = knob("dir").asText()
        val nlist = if (s.has("nlist")) knob("nlist").asInt() else 8
        val trained = if (s.has("trained")) knob("trained").asBoolean() else true
        p.stage(name, from) { d =>
          graft.similarity.MaxSim.writeIndex(d, id, pos, vec, dir,
            nlist = nlist, trained = trained)
          val sp = d.sparkSession; import sp.implicits._
          Seq((dir, nlist.toLong, trained)).toDF("dir", "nlist", "trained")
        }
      // the lexical (BM25) index build — `bm25` with `indexDir` probes it
      case "lex_index_write" =>
        val id = knob("id").asText(); val text = knob("text").asText()
        val dir = knob("dir").asText()
        val buckets = if (s.has("buckets")) knob("buckets").asInt() else 64
        p.stage(name, from) { d =>
          graft.similarity.Search.writeLexIndex(d, id, text, dir, buckets)
          val sp = d.sparkSession; import sp.implicits._
          Seq((dir, buckets.toLong)).toDF("dir", "buckets")
        }
      // ---- G12 multimodal decode (r13): the config path can run the
      // decoder seam — previously Scala-callers-only, the one G12 gap on
      // the stated 100 TB path (E4). `decoder` picks from the registry
      // over Multimodal's pluggable trait ("fake" = the deterministic
      // fake the q_multimodal oracle replays; "imageio" = the JDK
      // javax.imageio PNG/JPEG decoder with corrupt-byte fallback);
      // `media` picks the input adapter: "columns" reads the stage's own
      // (id, content, format, width, height, n_frames) columns — the
      // real-crawl shape — and "fake" derives deterministic media rows
      // from `id` (the fixture shape). Output = the MediaFeatures frame.
      case "decode_features" =>
        val decoderName =
          if (s.has("decoder")) knob("decoder").asText() else "fake"
        val decoder: graft.multimodal.Multimodal.Decoder = decoderName match {
          case "fake"    => graft.multimodal.Multimodal.FakeDecoder
          case "imageio" => graft.multimodal.Multimodal.ImageIoDecoder
          case other => throw new IllegalArgumentException(
            s"unknown decoder '$other' (supported: fake | imageio)")
        }
        val stride =
          if (s.has("frameStride")) knob("frameStride").asInt() else 2
        val mediaMode = if (s.has("media")) knob("media").asText() else "columns"
        p.stage(name, from) { d =>
          val sp = d.sparkSession
          import sp.implicits._
          val media = mediaMode match {
            case "fake" =>
              graft.multimodal.Multimodal.fakeMedia(sp, d, knob("id").asText())
            case "columns" =>
              d.select(col("id").cast("long").as("id"), col("content"),
                  col("format"), col("width").cast("int").as("width"),
                  col("height").cast("int").as("height"),
                  col("n_frames").cast("int").as("n_frames"))
                .as[graft.multimodal.Multimodal.Media]
            case other => throw new IllegalArgumentException(
              s"unknown media adapter '$other' (supported: columns | fake)")
          }
          graft.multimodal.Multimodal.decodeFeatures(sp, media, stride, decoder)
            .toDF()
        }
      // persistent-IVFPQ-index probe: route this stage's query vectors
      // against the stored index at `dir` (written by Pq.writeIndex) —
      // the ANN side of the crawl-loop probe family
      case "ann_index_probe" =>
        p.stage(name, from)(graft.similarity.Pq.probeIndex(_,
          knob("id").asText(), knob("vec").asText(), knob("dir").asText(),
          knob("topK").asInt(),
          if (s.has("nprobe")) knob("nprobe").asInt() else 8))
      // code-table maintenance under the stored (frozen) model: `from` =
      // admitted vectors, `retired` = a stage of ids to drop
      case "ann_index_delta" =>
        val retired = p.output(knob("retired").asText())
        p.stage(name, from)(graft.similarity.Pq.indexCodesDelta(_,
          knob("id").asText(), knob("vec").asText(), knob("dir").asText(),
          retired))
      // the IVF-SQ stored-index twins (same contracts, byte codes)
      case "sq_index_probe" =>
        p.stage(name, from)(graft.similarity.Sq.probeIndex(_,
          knob("id").asText(), knob("vec").asText(), knob("dir").asText(),
          knob("topK").asInt(),
          if (s.has("nprobe")) knob("nprobe").asInt() else 8))
      case "sq_index_delta" =>
        val retired = p.output(knob("retired").asText())
        p.stage(name, from)(graft.similarity.Sq.indexCodesDelta(_,
          knob("id").asText(), knob("vec").asText(), knob("dir").asText(),
          retired))
      // the stored late-interaction (MaxSim) index twins: `from` carries
      // (id, pos, vec) token-vector rows; scale comes from the model
      case "maxsim_index_probe" =>
        p.stage(name, from)(graft.similarity.MaxSim.probeIndex(_,
          knob("id").asText(), knob("pos").asText(), knob("vec").asText(),
          knob("dir").asText(), knob("k").asInt(),
          if (s.has("nprobe")) knob("nprobe").asInt() else 8,
          knob("mShort").asInt()))
      case "maxsim_index_delta" =>
        val retired = p.output(knob("retired").asText())
        p.stage(name, from)(graft.similarity.MaxSim.indexMatsDelta(_,
          knob("id").asText(), knob("pos").asText(), knob("vec").asText(),
          knob("dir").asText(), retired))
      // prints-index maintenance (the index_delta pattern for winnow)
      case "winnow_index_delta" =>
        val index = p.output(knob("index").asText())
        val retired = p.output(knob("retired").asText())
        p.stage(name, from)(graft.dedup.Dedup.winnowIndexDelta(index, _,
          knob("id").asText(), knob("text").asText(), retired,
          if (s.has("k")) knob("k").asInt() else 8,
          if (s.has("w")) knob("w").asInt() else 4))
      // index MAINTENANCE between generations: `from` = this generation's
      // admitted docs (current text), `index` = the prior index stage,
      // `retired` = a stage of ids to drop (snapshot_diff removed/changed)
      case "index_delta" =>
        val index = p.output(knob("index").asText())
        val retired = p.output(knob("retired").asText())
        val numHashes = if (s.has("numHashes")) knob("numHashes").asInt() else 16
        val bands = if (s.has("bands")) knob("bands").asInt() else 4
        val rpb = if (s.has("rowsPerBand")) knob("rowsPerBand").asInt() else 4
        p.stage(name, from)(graft.dedup.Dedup.indexDelta(index, _,
          knob("id").asText(), knob("text").asText(), retired,
          numHashes, bands, rpb))
      // benchmark decontamination: `bench` names a prior stage whose output
      // is the eval/benchmark table. method "exact" broadcasts the bench
      // shingle set; "bloom" is the too-big-to-broadcast-bench scale path
      // (sketch probe + exact verify — IDENTICAL output, knobs fpp /
      // expectedItems; see Dedup.decontaminateBloom); "winnow" thins both
      // sides to winnowing fingerprints (knob w — hits are shared PRINTS,
      // guaranteed for runs >= w+k-1 tokens; see Dedup.decontaminateWinnow)
      case "decontaminate" =>
        val id = knob("id").asText(); val text = knob("text").asText()
        val bench = p.output(knob("bench").asText())
        val benchText = if (s.has("benchText")) knob("benchText").asText() else text
        val k = if (s.has("k")) knob("k").asInt() else 8
        val minHits = if (s.has("minHits")) knob("minHits").asInt() else 1
        (if (s.has("method")) knob("method").asText() else "exact") match {
          case "exact" =>
            p.stage(name, from)(graft.dedup.Dedup.decontaminate(_,
              id, text, bench, benchText, k, minHits))
          case "bloom" =>
            val fpp = if (s.has("fpp")) knob("fpp").asDouble() else 0.01
            val expected =
              if (s.has("expectedItems")) knob("expectedItems").asLong() else -1L
            p.stage(name, from)(graft.dedup.Dedup.decontaminateBloom(_,
              id, text, bench, benchText, k, minHits, fpp, expected))
          case "winnow" =>
            val w = if (s.has("w")) knob("w").asInt() else 4
            p.stage(name, from)(graft.dedup.Dedup.decontaminateWinnow(_,
              id, text, bench, benchText, k, w, minHits))
          case other => sys.error(s"decontaminate: unknown method '$other'")
        }
      // DATA-LAYOUT ops (write-side twins live in Sinks and are reachable
      // from the RunPipeline CLI via its layout directive):
      case "zorder" => // Morton clustering key over cols (adds `zval`)
        // NOTE: the min/max bounds job runs when the stage BUILDS (the bins
        // are literals in the projection) — the `ann` ivfpq precedent, where
        // codebooks also train at build; keep configs purpose-scoped
        p.stage(name, from)(graft.operators.Sinks.zorderValue(_,
          strs(knob("cols")),
          if (s.has("bits")) knob("bits").asInt() else 8))
      case "corpus_shuffle" => // seeded global shuffle (adds shard, pos)
        p.stage(name, from)(graft.operators.Ops.corpusShuffle(_,
          knob("id").asText(), knob("seed").asLong(),
          knob("shards").asInt()))
      // STREAMING curation twins (stateful — need a stream_dir source;
      // drain with RunPipeline outputMode=update and compact the changelog
      // batches downstream, or append for dedup's finalized rows):
      case "stream_dedup" => // exact dedup within the watermark horizon
        p.stage(name, from)(graft.streaming.Streams.dedupStream(_,
          knob("ts").asText(), knob("delay").asText(), strs(knob("keys"))))
      case "stream_keepbest" => // per-key best + copies-seen changelog
        val (key, id, score) =
          (knob("key").asText(), knob("id").asText(), knob("score").asText())
        p.stage(name, from) { d =>
          import d.sparkSession.implicits._
          import org.apache.spark.sql.types._
          // plan-time type checks, like lshBucketsStream's: a silent cast
          // would null string ids / non-numeric scores and kill the stream
          // mid-run with an opaque non-nullable-field error
          val idT = d.schema(id).dataType
          require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idT),
            s"stream_keepbest: id column '$id' must be integral (got $idT)")
          val scoreT = d.schema(score).dataType
          require(scoreT.isInstanceOf[NumericType],
            s"stream_keepbest: score column '$score' must be numeric (got $scoreT)")
          graft.streaming.Streams.keepBestStream(
            d.select(col(key).cast("string"), col(id).cast("long"),
              col(score).cast("double")).as[(String, Long, Double)])
            .toDF(key, "best_id", "best_score", "n_copies")
        }
      case "stream_repetition" => // per-doc n-gram repetition stats
        p.stage(name, from)(graft.streaming.Streams.repetitionStatsStream(_,
          knob("id").asText(), knob("text").asText(), knob("n").asInt()))
      case "stream_neardup" => // LSH bucket changelog (constant-size state)
        p.stage(name, from)(graft.streaming.Streams.lshBucketsStream(_,
          knob("id").asText(), knob("text").asText(),
          numHashes = if (s.has("numHashes")) knob("numHashes").asInt() else 16,
          bands = if (s.has("bands")) knob("bands").asInt() else 4,
          rowsPerBand = if (s.has("rowsPerBand")) knob("rowsPerBand").asInt() else 4))
      case "stream_spandedup" => // span-ownership changelog (3 longs/hash)
        p.stage(name, from)(graft.streaming.Streams.chunkOwnersStream(_,
          knob("id").asText(), knob("text").asText(),
          if (s.has("window")) knob("window").asInt() else 64))
      case "stream_substringdedup" => // window-ownership changelog (3 longs/hash)
        p.stage(name, from)(graft.streaming.Streams.substringOwnersStream(_,
          knob("id").asText(), knob("text").asText(),
          if (s.has("window")) knob("window").asInt() else 32))
      case "stream_winnow" => // print-ownership changelog (thinned 2/(w+1))
        p.stage(name, from)(graft.streaming.Streams.winnowOwnersStream(_,
          knob("id").asText(), knob("text").asText(),
          if (s.has("k")) knob("k").asInt() else 8,
          if (s.has("w")) knob("w").asInt() else 4))
      case "span_dedup_clean" =>
        p.stage(name, from)(graft.dedup.Dedup.spanDedupClean(_,
          knob("id").asText(), knob("text").asText(), knob("window").asInt()))
      case "boilerplate" =>
        p.stage(name, from)(graft.dedup.Dedup.boilerplateClean(_,
          knob("id").asText(), knob("text").asText(), knob("window").asInt(),
          knob("minDocFreq").asInt()))
      case "histogram" =>
        p.stage(name, from)(graft.operators.Ops.histogram(_,
          knob("value").asText(), knob("bins").asInt()))
      // per-group quantiles; mode "approx" (the default here — the config
      // path is what a 100 TB user runs) bounds agg state by `accuracy`
      // via percentile_approx, mode "exact" is the oracle-grade form
      case "percentiles" =>
        val ps = knob("ps").elements().asScala
          .map(e => (e.get("p").asDouble(), e.get("as").asText())).toSeq
        // validate the mode: a typo silently selecting EXACT mode would swap
        // bounded agg state for unbounded per-group maps at 100 TB
        val approx = (if (s.has("mode")) knob("mode").asText() else "approx") match {
          case "approx" => true
          case "exact"  => false
          case other    => sys.error(s"unknown percentiles mode '$other'")
        }
        p.stage(name, from)(graft.operators.Ops.percentiles(_,
          strs(knob("keys")), knob("value").asText(), ps, approx = approx,
          accuracy = if (s.has("accuracy")) knob("accuracy").asInt() else 10000))
      // approximate distinct counts per group: method "kmv" (deterministic
      // k-minimum-values, oracle-able, knob k) or "hll" (HyperLogLog++,
      // knob rsd — the fixed-register 100 TB sketch)
      case "distinct_sketch" =>
        val keys = strs(knob("keys")); val v = knob("value").asText()
        (if (s.has("method")) knob("method").asText() else "kmv") match {
          case "kmv" =>
            p.stage(name, from)(graft.operators.Ops.approxDistinctKmv(_,
              keys, v, if (s.has("k")) knob("k").asInt() else 256))
          case "hll" =>
            val rsd = if (s.has("rsd")) knob("rsd").asDouble() else 0.05
            p.stage(name, from)(_.groupBy(keys.map(col): _*)
              .agg(approx_count_distinct(col(v), rsd).as("distinct_est")))
          case other => sys.error(s"unknown distinct_sketch method '$other'")
        }
      case "sample_per_group" =>
        p.stage(name, from)(graft.operators.Ops.sampleNPerGroup(_,
          strs(knob("keys")), knob("id").asText(), knob("n").asInt()))
      case "canonical_url" =>
        p.stage(name, from)(d => d.withColumn(
          if (s.has("as")) knob("as").asText() else "canon",
          graft.functions.Text.canonicalUrl(col(knob("url").asText()))))
      // Unicode normalization (G54): form NFC (default) / NFD / NFKC / NFKD
      case "normalize_unicode" =>
        val form = if (s.has("form")) knob("form").asText() else "NFC"
        p.stage(name, from)(d => d.withColumn(
          if (s.has("as")) knob("as").asText() else knob("text").asText(),
          graft.functions.Text.normalizeUnicode(col(knob("text").asText()), form)))
      // BM25 keyword search (G19/G58): over the input stage directly, or
      // over a stored lexical index (indexDir) without re-scanning
      case "bm25" =>
        val terms = strs(knob("terms"))
        val k = knob("k").asInt()
        // maxDfPermille (index path only): drop near-zero-idf stop terms
        // whose df exceeds the ceiling before their postings are scanned.
        // 990 is the library-wide guarded default (Search.bm25FromIndex);
        // 1000 is the explicit opt-out that admits every term
        val maxDfPm =
          if (s.has("maxDfPermille")) knob("maxDfPermille").asInt() else 990
        if (s.has("indexDir"))
          p.stage(name, from)(d => graft.similarity.Search.bm25FromIndex(
            d.sparkSession, knob("indexDir").asText(), terms, k,
            maxDfPermille = maxDfPm))
        else
          p.stage(name, from)(graft.similarity.Search.bm25TopK(_,
            knob("id").asText(), knob("text").asText(), terms, k))
      // C4 line-quality cleaning (G57): doc gate + line rules; emits the
      // cleaned column (default "clean")
      case "c4_clean" =>
        val minWords = if (s.has("minWords")) knob("minWords").asInt() else 3
        p.stage(name, from)(d => d
          .filter(graft.functions.Text.c4DocOk(col(knob("text").asText())))
          .withColumn(if (s.has("as")) knob("as").asText() else "clean",
            graft.functions.Text.c4CleanLines(
              col(knob("text").asText()), minWords)))
      // script-mix stats (G54): per-script counts + main_script argmax
      case "script_stats" =>
        p.stage(name, from)(d => d.select(col(knob("id").asText()) +:
          graft.functions.Text.scriptStats(col(knob("text").asText())): _*))
      // encoding-quality stats (G54): mojibake/control/non-ASCII signals
      case "encoding_stats" =>
        p.stage(name, from)(d => d.select(col(knob("id").asText()) +:
          graft.functions.Text.encodingStats(col(knob("text").asText())): _*))
      // HTML -> visible text (G55); markup-shape signals are the separate
      // html_stats op
      case "html_text" =>
        p.stage(name, from)(d => d.withColumn(
          if (s.has("as")) knob("as").asText() else "clean",
          graft.functions.Text.htmlToText(col(knob("html").asText()))))
      case "html_stats" =>
        p.stage(name, from)(d => d.select(col(knob("id").asText()) +:
          graft.functions.Text.htmlStats(col(knob("html").asText())): _*))
      case "lm_xent_bigram" =>
        p.stage(name, from)(graft.functions.Lm.bigramCrossEntropy(_,
          knob("id").asText(), knob("text").asText()))
      // optional "segment" switches to the celebrity-key-safe two-phase
      // form (bit-identical output; see Ops.sessionTagSegmented)
      case "sessionize" =>
        p.stage(name, from)(d =>
          if (s.has("segment"))
            graft.operators.Ops.sessionizeSegmented(d, strs(knob("keys")),
              knob("ts").asText(), knob("gap").asLong(),
              knob("segment").asLong())
          else graft.operators.Ops.sessionize(d, strs(knob("keys")),
            knob("ts").asText(), knob("gap").asLong()))
      // sessionize's member-row half: every input row back + session_id
      // (dialogue assembly / per-session transforms)
      case "session_tag" =>
        p.stage(name, from)(graft.operators.Ops.sessionTag(_, strs(knob("keys")),
          knob("ts").asText(), knob("gap").asLong()))
      case "pack" =>
        p.stage(name, from)(graft.operators.Ops.packByBudget(_, strs(knob("keys")),
          strs(knob("order")), knob("weight").asText(), knob("budget").asLong()))
      case "split" =>
        p.stage(name, from)(graft.operators.Ops.hashSplit(_, knob("id").asText(),
          knob("trainPct").asInt()))
      case "flatten" => // TreeHorn traversal from config: GO DOWN UNTIL HAS KEY
        p.stage(name, from)(graft.json.TreeWalk.flattenAtKey(_,
          knob("key").asText(), knob("label").asText(),
          keep = if (s.has("keep")) strs(knob("keep")) else Nil))
      case "langid" =>
        p.stage(name, from)(d => d.select(col(knob("id").asText()),
          graft.functions.Text.langId(col(knob("text").asText())).as("lang_pred")))
      case "fingerprint" =>
        p.stage(name, from)(d => d.select(col(knob("id").asText()),
          graft.functions.Text.fingerprint(col(knob("text").asText())).as("fp")))
      case "repetition" =>
        p.stage(name, from)(graft.functions.Text.repetitionStats(_,
          knob("id").asText(), knob("text").asText(), knob("n").asInt()))
      case "span_dedup" =>
        p.stage(name, from)(graft.dedup.Dedup.spanDedup(_,
          knob("id").asText(), knob("text").asText(), knob("window").asInt()))
      // shift-robust sliding-window substring dedup (maximal dup spans);
      // stride defaults to 1 — the full-guarantee setting (see scaladoc)
      case "substring_dedup" =>
        val stride = if (s.has("stride")) knob("stride").asInt() else 1
        p.stage(name, from)(graft.dedup.Dedup.substringDedup(_,
          knob("id").asText(), knob("text").asText(),
          knob("window").asInt(), stride))
      // winnowing (MOSS) fingerprint dedup: guaranteed-detection thinning
      case "winnowed_dedup" =>
        p.stage(name, from)(graft.dedup.Dedup.winnowedDedup(_,
          knob("id").asText(), knob("text").asText(),
          if (s.has("k")) knob("k").asInt() else 8,
          if (s.has("w")) knob("w").asInt() else 4))
      // the rewrite twin: dup-span tokens removed, survivors reassembled
      // (stride fixed at 1 — a sampled screen cannot safely rewrite)
      case "substring_dedup_clean" =>
        p.stage(name, from)(graft.dedup.Dedup.substringDedupClean(_,
          knob("id").asText(), knob("text").asText(), knob("window").asInt()))
      // exact heavy hitters at sketch cost: freqItems candidates + one
      // verify pass; support is strictly-greater permille of the row count
      case "heavy_hitters" =>
        p.stage(name, from)(graft.operators.Ops.heavyHitters(_,
          knob("value").asText(), knob("supportPermille").asInt()))
      // token-distribution drift vs a prior stage's snapshot (empirical
      // KL(new||old) under add-one-smoothed unigram LMs, shared vocab)
      case "distribution_drift" =>
        val old = p.output(knob("old").asText())
        p.stage(name, from)(graft.functions.Lm.distributionDrift(old, _,
          knob("text").asText()))
      case "mixture" =>
        val w = knob("weights").fields().asScala
          .map(e => e.getKey -> e.getValue.asInt()).toMap
        p.stage(name, from)(graft.operators.Ops.resampleMixture(_,
          knob("id").asText(), knob("group").asText(), w))
      // temperature (α) sampling: quotas ∝ n_group^alpha, derived from the
      // data instead of explicit weights — the multilingual mixing rule
      case "temperature_sample" =>
        val alpha = if (s.has("alpha")) knob("alpha").asDouble() else 0.5
        p.stage(name, from)(graft.operators.Ops.temperatureSample(_,
          knob("id").asText(), knob("group").asText(),
          knob("total").asLong(), alpha))
      // token-budget selection: absolute per-group token targets. method
      // "exact" fills budgets in md5(id) order (one window shuffle);
      // "rate" is the zero-shuffle md5-bucket approximation for groups too
      // large for a per-group sort (budget hit in expectation)
      case "token_budget" =>
        val b = knob("budgets").fields().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap
        val id = knob("id").asText(); val group = knob("group").asText()
        val text = knob("text").asText()
        (if (s.has("method")) knob("method").asText() else "exact") match {
          case "exact" =>
            p.stage(name, from)(graft.operators.Ops.tokenBudgetSample(_,
              id, group, text, b))
          case "rate" =>
            p.stage(name, from)(graft.operators.Ops.tokenBudgetRate(_,
              id, group, text, b))
          case other => sys.error(s"token_budget: unknown method '$other'")
        }
      // incremental-crawl diff: `old` names a prior stage holding the
      // previous snapshot; output rows carry status added/removed/changed/
      // unchanged (downstream incremental curation filters on it)
      case "snapshot_diff" =>
        val old = p.output(knob("old").asText())
        p.stage(name, from)(graft.operators.Ops.snapshotDiff(old, _,
          knob("id").asText(), knob("text").asText()))
      case "tfidf" =>
        p.stage(name, from)(graft.similarity.Search.tfIdfKeywords(_,
          knob("id").asText(), knob("text").asText(), knob("m").asInt()))
      case "chunk" =>
        p.stage(name, from)(graft.functions.Text.chunk(_,
          knob("id").asText(), knob("text").asText(),
          knob("size").asInt(), knob("stride").asInt()))
      case "lm_xent" =>
        p.stage(name, from)(graft.functions.Lm.unigramCrossEntropy(_,
          knob("id").asText(), knob("text").asText()))
      case "dsir" => // target subcorpus picked by a SQL predicate
        p.stage(name, from)(graft.functions.Lm.importanceWeights(_,
          knob("id").asText(), knob("text").asText(), expr(knob("target").asText())))
      case "inverted_index" =>
        p.stage(name, from)(graft.similarity.Search.invertedIndex(_,
          knob("id").asText(), knob("text").asText(),
          if (s.has("maxPostings")) knob("maxPostings").asLong() else Long.MaxValue))
      case "pagerank" if s.has("danglingRedistribute") =>
        p.stage(name, from)(graft.graph.Graph.pageRank(_,
          iters = if (s.has("iters")) knob("iters").asInt() else 5,
          danglingRedistribute = knob("danglingRedistribute").asBoolean()))
      case "pagerank" =>
        p.stage(name, from)(graft.graph.Graph.pageRank(_,
          if (s.has("iters")) knob("iters").asInt() else 5))
      case "degrees" =>
        p.stage(name, from)(graft.graph.Graph.degrees(_))
      // G45 margin mining from config: from[2] = [src stage, tgt stage];
      // "method": "brute" (default) or "ivf" (+nlist/nprobe), "mutual" for
      // the both-directions-best setting
      case "margin_mine" =>
        val (ss, ts) = two(knob("from"), "margin_mine")
        val id = knob("id").asText(); val vec = knob("vec").asText()
        val k = knob("k").asInt()
        val tau = if (s.has("tau")) knob("tau").asDouble() else 1.0
        val mutual = s.has("mutual") && knob("mutual").asBoolean()
        (if (s.has("method")) knob("method").asText() else "brute") match {
          case "brute" =>
            p.fanIn(name, Seq(ss, ts))(dfs =>
              graft.similarity.Mine.marginMine(dfs(0), dfs(1), id, vec, k, tau,
                mutual))
          case "ivf" =>
            p.fanIn(name, Seq(ss, ts))(dfs =>
              graft.similarity.Mine.marginMineIvf(dfs(0), dfs(1), id, vec, k,
                tau, nlist = knob("nlist").asInt(),
                nprobe = knob("nprobe").asInt(), mutual = mutual))
          case other => throw new IllegalArgumentException(
            s"margin_mine method '$other' — valid: brute, ivf")
        }
      // G50 soft dedup from config: near-dup clusters → inverse-count
      // sampling weights (downweight, don't drop)
      case "soft_dedup" =>
        p.stage(name, from)(graft.dedup.Dedup.softDedupWeights(_,
          knob("id").asText(), knob("text").asText(),
          numHashes = if (s.has("numHashes")) knob("numHashes").asInt() else 16,
          bands = if (s.has("bands")) knob("bands").asInt() else 4,
          rowsPerBand = if (s.has("rowsPerBand")) knob("rowsPerBand").asInt() else 4,
          maxBucket = if (s.has("maxBucket")) knob("maxBucket").asInt() else 1 << 12,
          metricName = s"${name}_bucket_guard"))
      // G51 CCNet perplexity buckets from config: mode "rank" (exact,
      // oracle-grade ntile) or "threshold" (sampled cutoffs + comparison
      // projection — the no-global-window 100 TB path)
      case "ccnet_buckets" =>
        val nb = if (s.has("buckets")) knob("buckets").asInt() else 3
        (if (s.has("mode")) knob("mode").asText() else "rank") match {
          case "rank" =>
            p.stage(name, from)(graft.functions.Lm.perplexityBuckets(_,
              knob("id").asText(), knob("text").asText(), nb))
          case "threshold" =>
            p.stage(name, from)(graft.functions.Lm.perplexityBucketsByThreshold(_,
              knob("id").asText(), knob("text").asText(), nb,
              samplePermille =
                if (s.has("samplePermille")) knob("samplePermille").asInt() else 1000,
              accuracy = if (s.has("accuracy")) knob("accuracy").asInt() else 10000))
          case other => throw new IllegalArgumentException(
            s"ccnet_buckets mode '$other' — valid: rank, threshold")
        }
      // G49 corpus-overlap sketch from config: from[2] = [a stage, b stage]
      case "corpus_overlap" =>
        val (as, bs) = two(knob("from"), "corpus_overlap")
        p.fanIn(name, Seq(as, bs))(dfs =>
          graft.dedup.Dedup.corpusOverlap(dfs(0), dfs(1),
            knob("text").asText(),
            ngram = if (s.has("ngram")) knob("ngram").asInt() else 5,
            sketchK = if (s.has("k")) knob("k").asInt() else 1024))
      // G46 k-center greedy diversity selection from config
      case "kcenter" =>
        p.stage(name, from)(graft.similarity.Clustering.kCenterGreedy(_,
          knob("id").asText(), knob("vec").asText(), knob("k").asInt()))
      // cluster-balanced diversity sample (r13, q_cluster_sample's shape):
      // k-means assignment → per-cluster md5-order quota of n ids
      case "cluster_sample" =>
        p.stage(name, from) { d =>
          val asg = graft.similarity.Clustering.kmeans(d,
              knob("id").asText(), knob("vec").asText(),
              k = knob("k").asInt(),
              rounds = if (s.has("rounds")) knob("rounds").asInt() else 2)
            .select(col("id").as(knob("id").asText()), col("cluster"))
          graft.operators.Ops.sampleNPerGroup(asg, Seq("cluster"),
            knob("id").asText(), knob("n").asInt())
        }
      // corpus data card (r13, q_corpus_report's shape): per-language
      // docs / exact-dup count / char+token totals / derived ratios in
      // one partial-agged pass — `id` and `text` name the columns
      case "corpus_report" =>
        p.stage(name, from) { d =>
          val text = col(knob("text").asText())
          val per = d.select(
            Seq(md5(text).as("__h"),
              graft.functions.Text.langId(text).as("lang")) ++
              graft.functions.Text.tokenStats(text): _*)
          per.groupBy("lang").agg(
              count(lit(1)).as("n_docs"),
              (count(lit(1)) - countDistinct(col("__h"))).as("n_dup_docs"),
              sum("n_chars").as("total_chars"),
              sum("n_ws_tokens").as("total_ws_tokens"),
              sum("n_bpeish_tokens").as("total_bpeish_tokens"))
            .withColumn("dup_ratio",
              col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
            .withColumn("ws_tokens_per_doc",
              col("total_ws_tokens").cast("double") /
                col("n_docs").cast("double"))
        }
      // ANN from config (G6/G7/G35 reachable by a config-driven user):
      // from[2] = [queries stage, corpus stage], both carrying (id, vec)
      case "ann" =>
        val (qs, cs) = two(knob("from"), "ann")
        val id = knob("id").asText(); val vec = knob("vec").asText()
        val k = knob("k").asInt()
        def intKnob(n: String, d: Int) = if (s.has(n)) knob(n).asInt() else d
        // trained coarse quantizer — true is the library default (r12);
        // config parity so a JSON user can ask for the zero-training build
        def trainedKnob = !s.has("trained") || knob("trained").asBoolean()
        (if (s.has("method")) knob("method").asText() else "brute") match {
          case "brute" =>
            p.fanIn(name, Seq(qs, cs))(dfs =>
              graft.similarity.Ann.bruteForceTopK(dfs(0), dfs(1), id, vec, k))
          case "ivf" =>
            p.fanIn(name, Seq(qs, cs))(dfs =>
              graft.similarity.Ann.ivfTopK(dfs(0), dfs(1), id, vec, k,
                nlist = intKnob("nlist", 64), nprobe = intKnob("nprobe", 8),
                trained = trainedKnob))
          case "lsh" =>
            p.fanIn(name, Seq(qs, cs))(dfs =>
              graft.similarity.Ann.lshTopK(dfs(0), dfs(1), id, vec, k,
                dim = knob("dim").asInt(), numPlanes = intKnob("numPlanes", 8),
                bands = intKnob("bands", 2)))
          // FAISS-IVFPQ: codebooks train at stage-BUILD time (model-sized
          // driver state, like the weights a classifier stage loads); set
          // "rerank" to re-order an mShort shortlist with exact distances
          case "ivfpq" =>
            val dim = knob("dim").asInt()
            val rerank = s.has("rerank") && knob("rerank").asBoolean()
            // mShort is the RERANK shortlist size; without a rerank stage it
            // would silently replace k (20 rows back when 5 were asked for)
            require(rerank || !s.has("mShort"),
              s"ann '$name': mShort is the rerank shortlist — set " +
                "\"rerank\": true or drop mShort")
            p.fanIn(name, Seq(qs, cs)) { dfs =>
              val cbs = graft.similarity.Pq.trainCodebooks(dfs(1), id, vec,
                dim = dim, m = intKnob("m", 4), k = intKnob("codebookK", 16),
                rounds = intKnob("rounds", 2))
              val routed = graft.similarity.Pq.ivfAdcTopK(dfs(0), dfs(1), id, vec,
                cbs, if (rerank) intKnob("mShort", k) else k,
                nlist = intKnob("nlist", 64), nprobe = intKnob("nprobe", 8),
                trained = trainedKnob)
              if (rerank)
                graft.similarity.Pq.rerank(routed, dfs(0), dfs(1), id, vec, k)
              else routed
            }
          // G52 SQ8: per-dim byte codes + asymmetric distance — scales
          // train at stage-build time (2·dim longs of driver state);
          // nlist/nprobe switch to the IVF-routed composition
          case "sq" =>
            val dim = knob("dim").asInt()
            p.fanIn(name, Seq(qs, cs)) { dfs =>
              val scales = graft.similarity.Sq.trainScales(dfs(1), vec, dim)
              if (s.has("nlist"))
                graft.similarity.Sq.ivfSqTopK(dfs(0), dfs(1), id, vec, scales, k,
                  nlist = knob("nlist").asInt(), nprobe = intKnob("nprobe", 8),
                  trained = trainedKnob)
              else
                graft.similarity.Sq.sqTopK(dfs(0), dfs(1), id, vec, scales, k)
            }
          // G53 JL: brute-force top-k in the sign-projected space
          case "jl" =>
            p.fanIn(name, Seq(qs, cs))(dfs =>
              graft.similarity.Jl.jlTopK(dfs(0), dfs(1), id, vec,
                dim = knob("dim").asInt(), outDim = knob("outDim").asInt(), k,
                seed = intKnob("seed", 42)))
          case other => sys.error(s"unknown ann method '$other'")
        }
      // G59 late-interaction MaxSim from config: from[2] = [queries stage,
      // corpus stage], both carrying (id, pos, vec) token-vector rows;
      // "mShort" switches to the two-stage pooled-screen + exact-re-rank
      // composition (the corpus-scale shape)
      case "maxsim" =>
        val (qs, cs) = two(knob("from"), "maxsim")
        p.fanIn(name, Seq(qs, cs)) { dfs =>
          val (id, pos, vec) = (knob("id").asText(), knob("pos").asText(),
            knob("vec").asText())
          val k = knob("k").asInt()
          if (s.has("mShort"))
            graft.similarity.MaxSim.maxSimTopKPooled(dfs(1), dfs(0),
              id, pos, vec, k, mShort = knob("mShort").asInt())
          else
            graft.similarity.MaxSim.maxSimTopK(dfs(1), dfs(0), id, pos, vec, k)
        }
      // G59 hybrid-stack legs: the SUM-pooled coarse retriever (from[2] =
      // [queries, corpus]) and the exact-MaxSim candidate re-rank
      // (from[3] = [candidates, queries, corpus] — candidates carry
      // (query_id, neighbor_id), e.g. an rrf_fuse stage's output)
      case "maxsim_pooled" =>
        val (qs, cs) = two(knob("from"), "maxsim_pooled")
        p.fanIn(name, Seq(qs, cs))(dfs =>
          graft.similarity.MaxSim.pooledTopK(dfs(1), dfs(0),
            knob("id").asText(), knob("pos").asText(), knob("vec").asText(),
            knob("k").asInt()))
      case "maxsim_rerank" =>
        val inputs = strs(knob("from"))
        require(inputs.size == 3,
          s"maxsim_rerank needs from = [candidates, queries, corpus], " +
            s"got ${inputs.size} stages")
        p.fanIn(name, inputs)(dfs =>
          graft.similarity.MaxSim.rerank(dfs(0), dfs(2), dfs(1),
            knob("id").asText(), knob("pos").asText(), knob("vec").asText(),
            knob("k").asInt()))
      // G53 JL projection as a standalone reduction stage (the vector
      // column is replaced; every other column rides through)
      case "jl_project" =>
        p.stage(name, from)(graft.similarity.Jl.project(_,
          knob("vec").asText(), outDim = knob("outDim").asInt(),
          dim = knob("dim").asInt(),
          seed = if (s.has("seed")) knob("seed").asInt() else 42))
      case "quality_classifier" => // weights from a named pipeline stage
        val weights = p.output(knob("weights").asText())
        p.stage(name, from)(d => graft.functions.Lm.linearScore(
          graft.functions.Lm.hashedFeatures(d,
            knob("id").asText(), knob("text").asText(), knob("dim").asInt()),
          weights,
          if (s.has("bias")) new java.math.BigDecimal(knob("bias").asText())
          else java.math.BigDecimal.ZERO))
      case other => sys.error(
        s"unknown op '$other' — valid ops: ${validOps.mkString(", ")}")
    }
  }
}
