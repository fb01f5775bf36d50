package graft.operators

import graft.core.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-order Markov (removal-effect) attribution — the
  * model-based complement to the heuristic last-touch (q192) and
  * time-decay (q242) attributions the reporting pack already covers
  * (reference computes point metrics only:
  * src/workbench/utils/metrics_utils.py; the journey framing follows
  * Anderl et al. 2016, "Mapping the customer journey").
  *
  * Journeys: per entity, the ordered run of touch events up to and
  * including the FIRST conversion event; a journey that never converts
  * is absorbed by NULL. States are START, each non-conversion
  * event type ("channel"), CONV and NULL; transition probabilities are
  * the row-normalized counts. Conversion probability is read off by
  * T-step chain evolution from START (T bounds path length; mass not
  * yet absorbed after T steps counts as non-converting, identically in
  * engine and oracle). The removal effect of channel c re-routes every
  * transition INTO c to NULL (the standard construction) and re-runs
  * the same evolution; attribution shares normalize the effects.
  *
  * Scale design: the data-sized work is ONE entity-keyed lead window +
  * ONE pair groupBy (the q184 transition kernel). The chain itself
  * lives on a (scenario, state) frame of at most (channels+1)·(k+3)
  * rows — evolved as DataFrame joins so the whole computation stays in
  * the plan (no driver matrix), with every scenario advancing in the
  * same T jobs (scenario is just a key column).
  */
object MarkovAttribution {

  private val Start = "__START__"
  private val Conv = "__CONV__"
  private val Null = "__NULL__"

  /** (channel, base_conv, removal_conv, removal_effect,
    * attribution_share), 6dp, one row per non-conversion event type.
    */
  def removalEffect(events: DataFrame, userCol: String, tsCol: String,
                    typeCol: String, idCol: String, convType: String,
                    steps: Int = 12): DataFrame = Checkpoints.scoped {
    require(steps >= 1 && steps <= 64, s"steps $steps out of range")
    val ev = graft.core.Tables.ltzTs(events, tsCol)
    // truncate each journey at its first conversion (inclusive)
    val firstConv = ev.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("__fu"))
      .agg(min(struct(col(tsCol), col(idCol))).as("__fc"))
    val trunc = ev.join(firstConv, col(userCol) === col("__fu"), "left")
      .filter(col("__fc").isNull ||
        struct(col(tsCol), col(idCol)) <= col("__fc"))
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val seq = trunc
      .withColumn("__rn", row_number().over(w))
      .withColumn("__nxt", lead(col(typeCol), 1).over(w))
    // transition edges: START→first, e→next, last→CONV/NULL
    val edges =
      seq.filter(col("__rn") === 1)
        .select(lit(Start).as("src"), col(typeCol).as("dst"))
      .unionAll(seq.filter(col("__nxt").isNotNull)
        .select(col(typeCol).as("src"), col("__nxt").as("dst")))
      .unionAll(seq.filter(col("__nxt").isNull)
        .select(col(typeCol).as("src"),
          when(col(typeCol) === convType, Conv).otherwise(Null).as("dst")))
    // conversion events absorb: drop their (only) outgoing CONV self-edge
    // source rows — absorption is modeled by the explicit self-loops below
    // checkpoint the transition counts — the ONLY data-sized frame: the
    // channels collect, pS and every chain step below read from this
    // ≤(k+2)² materialized frame instead of re-running the entity window
    // (the r13 plan audit caught the corpus pass running twice: once for
    // the channels collect, once for the pS checkpoint)
    val counts = Checkpoints.local(edges.filter(col("src") =!= convType)
      .withColumn("dst",
        when(col("dst") === convType, Conv).otherwise(col("dst")))
      .groupBy("src", "dst").agg(count(lit(1)).as("n")))
    val totals = counts.groupBy("src").agg(sum("n").as("__tot"))
    val p = counts.join(totals, "src")
      .select(col("src"), col("dst"),
        (col("n").cast("double") / col("__tot")).as("p"))
    val spark = events.sparkSession
    import spark.implicits._
    val channels = counts.select("src").where(col("src") =!= Start)
      .distinct().as[String].collect().sorted
    require(channels.length <= 32,
      s"${channels.length} channels: removal-effect attribution targets " +
        "a small channel alphabet; bucket event types first")
    // scenario expansion: base + one removal per channel, self-loops on
    // the absorbers; all scenarios evolve as one keyed frame
    val scenarios = ("__base__" +: channels.map("rm_" + _)).toSeq.toDF("scenario")
    val pS = Checkpoints.local(scenarios.crossJoin(p)
      .select(col("scenario"), col("src"),
        when(col("scenario") =!= "__base__" &&
          col("dst") === regexp_replace(col("scenario"), "^rm_", ""),
          lit(Null)).otherwise(col("dst")).as("dst"),
        col("p"))
      .groupBy("scenario", "src", "dst").agg(sum("p").as("p"))
      .unionAll(scenarios.crossJoin(
        Seq(Conv, Null).toDF("s").select(col("s").as("src"), col("s").as("dst"),
          lit(1.0).as("p")))))
    // explicit aliases: v and pS share the `scenarios` lineage, so a
    // bare column-reference join trips the ambiguous-self-join detector
    var v = scenarios.select(col("scenario"), lit(Start).as("state"),
      lit(1.0).as("mass"))
    for (_ <- 1 to steps) {
      v = Checkpoints.local(v.as("v").join(pS.as("p"),
          col("v.scenario") === col("p.scenario") &&
            col("v.state") === col("p.src"))
        .select(col("v.scenario").as("scenario"), col("p.dst").as("state"),
          (col("v.mass") * col("p.p")).as("mass"))
        .groupBy("scenario", "state").agg(sum("mass").as("mass")))
    }
    val conv = v.filter(col("state") === Conv)
      .select(col("scenario"), col("mass").as("conv_prob"))
    val base = conv.filter(col("scenario") === "__base__")
      .select(col("conv_prob").as("base_conv"))
    val rm = conv.filter(col("scenario") =!= "__base__")
      .select(regexp_replace(col("scenario"), "^rm_", "").as("channel"),
        col("conv_prob").as("removal_conv"))
      .crossJoin(base)
      .select(col("channel"), col("base_conv"), col("removal_conv"),
        (lit(1.0) - col("removal_conv") / col("base_conv")).as("effect"))
    val effTot = rm.agg(sum("effect").as("__te"))
    rm.crossJoin(effTot)
      .select(col("channel"), round(col("base_conv"), 6).as("base_conv"),
        round(col("removal_conv"), 6).as("removal_conv"),
        round(col("effect"), 6).as("removal_effect"),
        round(col("effect") / col("__te"), 6).as("attribution_share"))
      .orderBy("channel")
  }
}
