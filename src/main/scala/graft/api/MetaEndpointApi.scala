package graft.api

import graft.core.Checkpoints
import graft.ml.Ensemble
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** MetaEndpointDAG — a directed acyclic graph of endpoint references and
  * [[graft.ml.Ensemble.AggNode]] aggregation nodes describing an
  * inference-time data flow (utils/meta_endpoint_dag.py:1-546).
  *
  * Construction, validation, and the topological walker match the
  * reference's semantics: endpoint nodes take input from the caller
  * (input nodes) or exactly one upstream parent; aggregation nodes take
  * any number of parents (in edge-insertion order — static weights
  * align with it); a synthetic row id is stamped on entry and stripped
  * on exit so parallel branches align without any caller id column.
  *
  * The stamped input is localCheckpoint'ed ONCE: `monotonically_
  * increasing_id` is recomputed per action, so without materialization
  * two branches could observe different ids after e.g. a lost-executor
  * recompute. Everything downstream stays a lazy plan — Spark reuses
  * the checkpointed blocks across branches, and each aggregation is the
  * single-shuffle union+groupBy from [[graft.ml.Ensemble]].
  */
class MetaEndpointDAG {
  import MetaEndpointDAG.RowId

  private val endpointNodes = mutable.LinkedHashMap.empty[String, String]
  private val aggNodes = mutable.LinkedHashMap.empty[String, Ensemble.AggNode]
  private val edges = mutable.ArrayBuffer.empty[(String, String)]
  private var inputNodes: Seq[String] = Nil
  private var outputNodeOpt: Option[String] = None

  private def allNodes: Seq[String] = endpointNodes.keys.toSeq ++ aggNodes.keys.toSeq
  private def parentsOf(node: String): Seq[String] =
    edges.collect { case (src, dst) if dst == node => src }.toSeq

  private def checkName(node: String): String = {
    require(node.matches("[A-Za-z0-9._-]+"),
      s"Invalid node name '$node' (use only alphanumerics, '.', '_' and '-')")
    require(!endpointNodes.contains(node) && !aggNodes.contains(node),
      s"Node '$node' already exists in this DAG")
    node
  }

  /** Add an endpoint reference; returns the node name for chaining. */
  def addEndpoint(endpointName: String, nodeName: String = ""): String = {
    // the TARGET name is serialized into the same ';'-framed spec as
    // node names — an unvalidated "my;end" would round-trip into an
    // unreadable registry entry (catalog-sanitized names always pass)
    require(endpointName.matches("[A-Za-z0-9._-]+"),
      s"Invalid endpoint name '$endpointName' (use only alphanumerics, '.', '_' and '-')")
    val node = checkName(if (nodeName.isEmpty) endpointName else nodeName)
    endpointNodes(node) = endpointName
    node
  }

  def addAggregation(node: Ensemble.AggNode): String = {
    aggNodes(checkName(node.name)) = node
    node.name
  }

  /** Endpoint nodes accept at most one inbound edge; aggregations any
    * number (meta_endpoint_dag.py:94-111). */
  def addEdge(fromNode: String, toNode: String): Unit = {
    require(allNodes.contains(fromNode), s"Edge from unknown node '$fromNode'")
    require(allNodes.contains(toNode), s"Edge to unknown node '$toNode'")
    require(!(endpointNodes.contains(toNode) && parentsOf(toNode).nonEmpty),
      s"Endpoint node '$toNode' already has an upstream parent; " +
        "endpoints take input from at most one source")
    edges += (fromNode -> toNode)
  }

  def setInputNodes(nodes: String*): Unit = {
    nodes.foreach(n => require(endpointNodes.contains(n),
      s"Input nodes must be endpoint nodes; '$n' is not"))
    inputNodes = nodes.toSeq
  }

  def setOutputNode(node: String): Unit = {
    require(allNodes.contains(node), s"Unknown output node '$node'")
    outputNodeOpt = Some(node)
  }

  def endpoints: Map[String, String] = endpointNodes.toMap
  def outputNode: Option[String] = outputNodeOpt

  /** Kahn topological order; throws on cycles. */
  def topologicalOrder(): Seq[String] = {
    val inDeg = mutable.LinkedHashMap(allNodes.map(_ -> 0): _*)
    edges.foreach { case (_, dst) => inDeg(dst) += 1 }
    val ready = mutable.Queue(inDeg.collect { case (n, 0) => n }.toSeq: _*)
    val order = mutable.ArrayBuffer.empty[String]
    while (ready.nonEmpty) {
      val node = ready.dequeue()
      order += node
      edges.foreach { case (src, dst) =>
        if (src == node) {
          inDeg(dst) -= 1
          if (inDeg(dst) == 0) ready += dst
        }
      }
    }
    require(order.size == inDeg.size, "DAG contains a cycle")
    order.toSeq
  }

  /** Fail-loud structural validation (meta_endpoint_dag.py:225-280):
    * input/output declared, acyclic, aggregations have parents,
    * endpoint nodes are input XOR single-parent, output reachable. */
  def validate(): this.type = {
    require(inputNodes.nonEmpty, "DAG has no input nodes")
    require(outputNodeOpt.isDefined, "DAG has no output node")
    val order = topologicalOrder()
    endpointNodes.keys.foreach { ep =>
      val parents = parentsOf(ep)
      val isInput = inputNodes.contains(ep)
      require(!(isInput && parents.nonEmpty),
        s"Endpoint node '$ep' is declared as an input node but has upstream parents $parents")
      require(isInput || parents.nonEmpty,
        s"Endpoint node '$ep' has no upstream parent and is not an input node")
    }
    aggNodes.keys.foreach(a =>
      require(parentsOf(a).nonEmpty, s"Aggregation node '$a' has no upstream parents"))
    val reachable = mutable.Set(inputNodes: _*)
    order.foreach { node =>
      if (reachable(node)) edges.foreach { case (src, dst) =>
        if (src == node) reachable += dst
      }
    }
    require(reachable(outputNodeOpt.get),
      s"Output node '${outputNodeOpt.get}' is not reachable from input nodes $inputNodes")
    this
  }

  /** Execute the DAG: stamp the synthetic row id, walk nodes in
    * topological order (endpoint nodes via `invoker`, aggregations via
    * their Ensemble kernel), return the output node's frame with the
    * row id stripped (meta_endpoint_dag.py:282-400 run). */
  def run(input: DataFrame,
          invoker: (String, DataFrame) => DataFrame): DataFrame = Checkpoints.scoped {
    validate()
    val stamped = Checkpoints.local(input.withColumn(RowId, monotonically_increasing_id()))
    val outputs = mutable.Map.empty[String, DataFrame]
    topologicalOrder().foreach { node =>
      outputs(node) =
        if (endpointNodes.contains(node)) {
          val src =
            if (inputNodes.contains(node)) stamped
            else outputs(parentsOf(node).head)
          invoker(endpointNodes(node), src)
        } else aggNodes(node).apply(parentsOf(node).map(outputs), RowId)
    }
    outputs(outputNodeOpt.get).drop(RowId)
  }

  /** Serialize to a one-line spec for registry meta (the reference
    * stashes `dag.to_dict()` JSON on the endpoint's workbench_meta —
    * meta_endpoint.py:186-190). Node names are validated to
    * [A-Za-z0-9._-] at add time, so the `|`/`;`/`,` framing is safe. */
  def toSpec: String = {
    def nums(xs: Seq[Double]) = xs.mkString(",")
    val eps = endpointNodes.map { case (n, ep) => s"ep;$n;$ep" }
    val aggs = aggNodes.values.map {
      case Ensemble.Concat(n) => s"agg;concat;$n"
      case Ensemble.Mean(n) => s"agg;mean;$n"
      case Ensemble.WeightedMean(n, w) => s"agg;wmean;$n;${nums(w)}"
      case Ensemble.Vote(n) => s"agg;vote;$n"
      case s: Ensemble.StrategyNode =>
        val kind = s match {
          case _: Ensemble.ConfidenceWeighted => "confw"
          case _: Ensemble.InverseMaeWeighted => "invmae"
          case _: Ensemble.ScaledConfidenceWeighted => "scaledconfw"
          case _: Ensemble.CalibratedConfidenceWeighted => "calconfw"
        }
        s"agg;$kind;${s.name};${nums(s.modelWeights)};${nums(s.corrScale)};${s.optimalAlpha}"
    }
    val es = edges.map { case (a, b) => s"edge;$a;$b" }
    val io = Seq(s"in;${inputNodes.mkString(",")}", s"out;${outputNodeOpt.getOrElse("")}")
    (eps ++ aggs ++ es ++ io).mkString("|")
  }
}

object MetaEndpointDAG {
  /** Synthetic row-alignment column injected by the walker and stripped
    * before returning (aggregation_nodes.py DAG_ROW_ID). */
  val RowId = "__dag_row_id"

  def fromSpec(spec: String): MetaEndpointDAG = {
    val dag = new MetaEndpointDAG
    def nums(s: String): Seq[Double] =
      if (s.isEmpty) Nil else s.split(",").toSeq.map(_.toDouble)
    spec.split("\\|").foreach { entry =>
      entry.split(";", -1).toSeq match {
        case Seq("ep", node, ep) => dag.addEndpoint(ep, node)
        case Seq("agg", "concat", n) => dag.addAggregation(Ensemble.Concat(n))
        case Seq("agg", "mean", n) => dag.addAggregation(Ensemble.Mean(n))
        case Seq("agg", "wmean", n, w) =>
          dag.addAggregation(Ensemble.WeightedMean(n, nums(w)))
        case Seq("agg", "vote", n) => dag.addAggregation(Ensemble.Vote(n))
        case Seq("agg", kind, n, w, cs, a) =>
          val node = kind match {
            case "confw" => Ensemble.ConfidenceWeighted(n, nums(w), nums(cs), a.toDouble)
            case "invmae" => Ensemble.InverseMaeWeighted(n, nums(w), nums(cs), a.toDouble)
            case "scaledconfw" =>
              Ensemble.ScaledConfidenceWeighted(n, nums(w), nums(cs), a.toDouble)
            case "calconfw" =>
              Ensemble.CalibratedConfidenceWeighted(n, nums(w), nums(cs), a.toDouble)
            case other => throw new IllegalArgumentException(s"Unknown agg kind '$other'")
          }
          dag.addAggregation(node)
        case Seq("edge", a, b) => dag.addEdge(a, b)
        case Seq("in", ns) => dag.setInputNodes(ns.split(",").toIndexedSeq: _*)
        case Seq("out", n) if n.nonEmpty => dag.setOutputNode(n)
        case Seq("out", _) => ()
        case other => throw new IllegalArgumentException(s"Bad DAG spec entry: $entry")
      }
    }
    dag
  }
}

/** MetaEndpoint artifact: a registry row of type `endpoint` whose meta
  * carries the serialized DAG (api/meta_endpoint.py:52-190 — the
  * reference rides the standard Model→Endpoint flow and stashes
  * `dag.to_dict()` on workbench_meta; the SageMaker deploy/async
  * machinery disappears by construction). `inference` executes the DAG
  * client-side over the catalog's child endpoints — the reference's
  * `run_dag_test` path, which it documents as result-identical to the
  * deployed container. */
class MetaEndpoint(val catalog: Catalog, val name: String) {
  def exists: Boolean =
    catalog.registry.getMeta(name).contains(MetaEndpoint.DagKey)

  /** Reconstruct the DAG from registry meta (meta_endpoint.py get_dag). */
  def dag: MetaEndpointDAG = {
    val spec = catalog.registry.getMeta(name).getOrElse(MetaEndpoint.DagKey,
      throw new IllegalStateException(
        s"MetaEndpoint '$name' has no DAG in registry meta"))
    MetaEndpointDAG.fromSpec(spec)
  }

  /** Run the DAG: each child endpoint node is served by the catalog's
    * registered endpoint via transform-only inference. A CHAINED
    * endpoint (one fed by an upstream node) receives the upstream frame
    * minus the output columns its own transform re-creates — MLlib
    * pipelines throw on a pre-existing `prediction`/`features` column,
    * and an upstream node's outputs always carry them. Columns the
    * child model declares as FEATURES are never dropped. */
  def inference(df: DataFrame): DataFrame =
    dag.run(df, (ep, d) => {
      val e = catalog.endpoint(ep)
      val clash = (graft.ml.Ensemble.OutputCols ++ Seq("pred_proba", "features"))
        .filterNot(e.model.features.contains)
        .filter(d.columns.contains)
      e.fastInference(if (clash.isEmpty) d else d.drop(clash: _*))
    })
}

object MetaEndpoint {
  private[api] val DagKey = "graft_meta_dag"

  /** Validate, register, and return a MetaEndpoint (meta_endpoint.py
    * create: validate → register with the DAG in meta). Child
    * endpoints must already be registered — checked here the way the
    * reference fails fast on un-deployed children. */
  def create(catalog: Catalog, name: String, dag: MetaEndpointDAG,
             owner: String = "unknown"): MetaEndpoint = {
    dag.validate()
    dag.endpoints.values.toSeq.distinct.foreach { ep =>
      require(catalog.endpoint(ep).exists,
        s"MetaEndpoint '$name': child endpoint '$ep' is not registered — onboard it first")
    }
    val clean = catalog.sanitize(name)
    catalog.registry.onboardRow(clean, "endpoint",
      dag.endpoints.values.toSeq.distinct.mkString(","), owner,
      Map(DagKey -> dag.toSpec))
    new MetaEndpoint(catalog, clean)
  }
}
