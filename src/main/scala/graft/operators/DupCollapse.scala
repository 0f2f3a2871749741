package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The exact-duplicate collapse behind the near-dup family — the
  * text forms in [[Dedup]] (minhash, simhash, incremental, prebuilt,
  * components), their streaming twin in [[graft.streaming.DocsStream]]
  * and the embedding forms in [[Similarity]] (IVF pairs, components,
  * batch, prebuilt batch). Every collapsed route makes the same three
  * decisions, and each is written here once:
  *
  *  - WHETHER to collapse: [[worthIt]] compares a duplicate-mass
  *    fraction against the route's `dupGate`. The fraction comes from
  *    the inline [[Dedup.dupMassProbe]] or from the build-time stamp
  *    [[storedFraction]]; the endpoints skip both.
  *  - HOW copies contract: [[contract]] keeps one row per distinct
  *    key — `md5(text)` ([[byText]]) or the prepared `(v, n2)` — with
  *    `rep_id` = the group's minimum id and `ids` = its sorted member
  *    ids. [[reps]] selects the representatives' rows.
  *  - HOW rep pairs expand to member pairs: [[undirected]] (every
  *    member pair), [[touching]] (only pairs with a batch member) and
  *    [[directed]] (batch × corpus); [[labels]] maps rep components
  *    back to members.
  *
  * Why the collapse is exact: every signature, band key, cell
  * assignment and score downstream is a pure function of the key, so
  * a group's members behave exactly like its representative, and the
  * expanded output equals the direct form's (pinned per route in
  * TextDedupSuite, SimilaritySuite, MultimodalStreamingSuite and
  * IndexStoreSuite). Rep ids are only join keys between the rep-level
  * stage and the expansion, so which member represents a group
  * cannot change the output.
  *
  * Why both routes stay: the direct route wins on duplicate-light
  * corpora (sf0.1, 8 duplicates in 6k docs: simhash_pairs 0.58 s
  * direct vs 1.17 s collapsed), the collapsed route on copy-heavy
  * ones, where a g-copy group puts g² rows into every band bucket or
  * cell it touches (the 100× replica corpora, and the curation
  * corpus's ~30% exact-duplicate share).
  */
private[graft] object DupCollapse {

  /** Collapse iff the duplicate-mass `fraction` exceeds `dupGate`.
    * The endpoints never evaluate `fraction` (no probe job, no store
    * read): a negative gate forces the collapse, 1 or more the direct
    * form — how streaming callers stay lazy and how the suites pin
    * both routes output-identical.
    */
  def worthIt(dupGate: Double)(fraction: => Double): Boolean =
    if (dupGate < 0) true
    else if (dupGate >= 1) false
    else fraction > dupGate

  /** A corpus' duplicate-mass fraction persisted as a tiny store
    * entry — the serving-route stamp behind the prebuilt collapsed
    * indexes: `probe` runs ONCE at build time, and every serving call
    * reads the fraction back from column METADATA with zero jobs.
    * Entry `<kind>-<keyCol>-<idCol>-<variant>-v1-<md5(path)>`: keyed
    * by the frame only, so every knob combination over one corpus
    * frame shares it.
    */
  def storedFraction(corpus: DataFrame, corpusPath: String, kind: String,
      keyCol: String, idCol: String, variant: String, force: Boolean)(
      probe: => Double): Double = {
    require(variant.nonEmpty,
      "variant must name the corpus frame (store entries fingerprint the file only)")
    val name = s"$kind-$keyCol-$idCol-$variant-v1-" +
      graft.core.IndexStore.md5hex(corpusPath)
    val df = graft.core.IndexStore.readOrBuild(corpus.sparkSession, name,
      graft.core.IndexStore.sourceFingerprint(corpusPath), force) {
      val f = probe
      graft.core.IndexMeta.tag(
        corpus.sparkSession.range(1).select(lit(f).as("dup_fraction")),
        "dup_fraction", "kind" -> kind, "dupFraction" -> f)
    }
    graft.core.IndexMeta.get(df, "dup_fraction")
      .flatMap(_.get("dupFraction")).map(_.toDouble)
      .getOrElse(df.head().getDouble(0))
  }

  /** One row per distinct `keys` value of `keyed`: the group's
    * minimum `idCol` as `rep`, its sorted `member` values (the ids by
    * default) as `ids`, then any `extra` aggregates. One keyed
    * aggregate (map-side partial min; group-sized lists, never
    * C(g,2) combination arrays).
    */
  def contract(keyed: DataFrame, keys: Seq[String], idCol: String,
      rep: String = "rep_id", ids: String = "ids",
      member: Option[Column] = None, extra: Seq[Column] = Nil): DataFrame =
    keyed.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as(rep),
        (sort_array(collect_list(member.getOrElse(col(idCol)))).as(ids)
          +: extra): _*)

  /** The content key of a text row. */
  def fp(textCol: String): Column = md5(col(textCol)).as("fp")

  /** Text rows that can pair at all in the minhash forms: at least one
    * word `n`-shingle (null text has none).
    */
  def shingled(textCol: String, n: Int): Column =
    coalesce(size(TextFunctions.wordShingles(col(textCol), n)) > 0, lit(false))

  /** [[contract]] of the `keep` rows of `docs` by content:
    * (fp, rep, ids).
    */
  def byText(docs: DataFrame, keep: Column, textCol: String, idCol: String,
      rep: String = "rep_id", ids: String = "ids"): DataFrame =
    contract(docs.filter(keep).select(col(idCol), fp(textCol)), Seq("fp"),
      idCol, rep, ids)

  /** The rows of `df` whose id represents a `groups` row. */
  def reps(df: DataFrame, groups: DataFrame, idCol: String): DataFrame =
    df.join(groups.select(col("rep_id").as(idCol)), Seq(idCol), "left_semi")

  /** The collapsed form of a self-pair operator over text:
    * `direct(docs)` when the duplicate mass of `docs` does not clear
    * `dupGate`, else `direct` over the representatives of the `keep`
    * rows, expanded by [[undirected]] with within-group pairs at
    * `within` (what `direct` reports for two identical texts).
    * EAGER: the default gate probes `docs` at call time.
    */
  def textPairs(docs: DataFrame, keep: Column, textCol: String,
      idCol: String, dupGate: Double, value: String, within: Column)(
      direct: DataFrame => DataFrame): DataFrame = {
    if (!worthIt(dupGate)(Dedup.duplicateMassFraction(docs, textCol)))
      return direct(docs)
    val groups = byText(docs, keep, textCol, idCol)
      .transform(graft.core.OpCaches.persistTracked)
    undirected(groups, direct(reps(docs, groups, idCol)), value, within)
  }

  /** Every member pair behind the rep pairs of an undirected
    * (id_a < id_b, `value`) operator. Within-group pairs come once each
    * in id order at `within` (evaluated per group row), from groups of
    * 2+ members that pass `keepWithin`; a matched rep pair expands to
    * its member cross product at the reps' `value`, with least/greatest
    * restoring (id_a < id_b) because group id ranges interleave. Both
    * stream output-sized rows through two chained explodes.
    */
  def undirected(groups: DataFrame, repPairs: DataFrame, value: String,
      within: Column, keepWithin: Column = lit(true)): DataFrame = {
    val inGroup = groups.filter(size(col("ids")) >= 2 && keepWithin)
      .select(explode(col("ids")).as("x"), col("ids"), within.as(value))
      .select(col("x"), explode(col("ids")).as("y"), col(value))
      .filter(col("x") < col("y"))
      .select(col("x").as("id_a"), col("y").as("id_b"), col(value))
    val cross = repPairs
      .join(groups.select(col("rep_id").as("id_a"), col("ids").as("ids_a")),
        Seq("id_a"))
      .join(groups.select(col("rep_id").as("id_b"), col("ids").as("ids_b")),
        Seq("id_b"))
      .select(explode(col("ids_a")).as("x"), col("ids_b"), col(value))
      .select(col("x"), explode(col("ids_b")).as("y"), col(value))
      .select(least(col("x"), col("y")).as("id_a"),
        greatest(col("x"), col("y")).as("id_b"), col(value))
    inGroup.unionByName(cross)
  }

  /** [[undirected]] restricted to the pairs TOUCHING a batch, for the
    * minhash incremental forms (estimate 1.0 within a group): groups
    * carry `members` = sorted (id, nw) structs, `nw` marking batch
    * members, and `has_new`; a pair is kept iff either side is new.
    */
  def touching(groups: DataFrame, repPairs: DataFrame): DataFrame = {
    val inGroup = groups
      .filter(col("has_new") && size(col("members")) >= 2)
      .select(explode(col("members")).as("x"), col("members"))
      .select(col("x"), explode(col("members")).as("y"))
      .filter(col("x.id") < col("y.id") && (col("x.nw") || col("y.nw")))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("est_jaccard"))
    val cross = repPairs
      .join(groups.select(col("rep_id").as("id_a"),
        col("members").as("ms_a")), Seq("id_a"))
      .join(groups.select(col("rep_id").as("id_b"),
        col("members").as("ms_b")), Seq("id_b"))
      .select(explode(col("ms_a")).as("x"), col("ms_b"), col("est_jaccard"))
      .select(col("x"), explode(col("ms_b")).as("y"), col("est_jaccard"))
      .filter(col("x.nw") || col("y.nw"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"), col("est_jaccard"))
    inGroup.unionByName(cross)
  }

  /** Every member pair behind directed (batch_id, corpus_id, cosine)
    * rep pairs: the member cross product of the two groups at the
    * reps' cosine, generated once per (batch group, corpus group) — no
    * orientation or dedup step.
    */
  def directed(repPairs: DataFrame, batchGroups: DataFrame,
      corpusGroups: DataFrame): DataFrame =
    repPairs
      .join(batchGroups.select(col("rep_id").as("batch_id"),
        col("ids").as("ids_b")), Seq("batch_id"))
      .join(corpusGroups.select(col("rep_id").as("corpus_id"),
        col("ids").as("ids_c")), Seq("corpus_id"))
      .select(explode(col("ids_b")).as("batch_id"), col("ids_c"),
        col("cosine"))
      .select(col("batch_id"), explode(col("ids_c")).as("corpus_id"),
        col("cosine"))

  /** (id, label) for every member of `groups` from the components
    * `comp` (id, label) of the rep pair graph. Members of `eligible`
    * groups — those whose copies pair with each other in the direct
    * form, so the group is a clique a priori — inherit their rep's
    * label, or the rep id when the rep paired with nothing (rep_id is
    * the group minimum, so component minima are preserved); members
    * of the other groups stay one singleton each, as the direct
    * composition leaves them.
    */
  def labels(groups: DataFrame, comp: DataFrame, eligible: Column): DataFrame = {
    val viaRep = groups.filter(eligible)
      .select(col("rep_id"), explode(col("ids")).as("id"))
      .join(comp.withColumnRenamed("id", "rep_id")
        .withColumnRenamed("label", "__cl"), Seq("rep_id"), "left")
      .select(col("id"), coalesce(col("__cl"), col("rep_id")).as("label"))
    viaRep.unionByName(groups.filter(!eligible)
      .select(explode(col("ids")).as("id"))
      .select(col("id"), col("id").as("label")))
  }

  /** The direct route's labels: every `idCol` of `ids` with its
    * component in `comp`, or itself when it paired with nothing. Joins
    * the id PROJECTION, so a caller frame that already carries a
    * `label` column cannot make the coalesce ambiguous.
    */
  def directLabels(ids: DataFrame, idCol: String, comp: DataFrame): DataFrame =
    ids.select(col(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol).as("id"), coalesce(col("label"), col(idCol)).as("label"))
}
