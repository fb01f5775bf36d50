package graft.stores

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One artifact's catalog row — the persistent analogue of the
  * reference's Artifact metadata (tags / health tags / owner / status /
  * input / timestamps / free-form meta), which the reference stores as
  * AWS resource tags + Glue table Parameters
  * (reference: src/workbench/core/artifacts/artifact.py:238-417).
  */
case class ArtifactRow(
    name: String,
    artifact_type: String,
    owner: String,
    status: String,
    input: String,
    created: java.sql.Timestamp,
    modified: java.sql.Timestamp,
    tags: Seq[String],
    health_tags: Seq[String],
    meta: Map[String, String])

/** Persistent artifact registry: a [[MetaTable]] with one row per
  * artifact. This plays the role of the Glue catalog + resource tags in
  * the reference — every mutation is a locked read-modify-write of
  * driver-side metadata installed as a new immutable generation, and
  * every read is served from the generation cache (see [[MetaTable]]
  * for the protocol shared with [[ParameterStore]]).
  *
  * Semantics matched to `artifact.py`:
  *  - tags are ordered and duplicate-free on add (`add_tag`, :308-321)
  *  - health tags are a parallel list (`get_health_tags`, :333-345)
  *  - owner / status / input live in metadata (`:349-393`)
  *  - `health_check` returns `["needs_onboard"]` until the artifact is
  *    ready (`:395-409`)
  *  - `summary` merges the basic fields with the free-form meta (`:411-425`)
  */
class Registry(spark: SparkSession, root: String) {
  import spark.implicits._

  private val table = new MetaTable[ArtifactRow](spark, root + "/_registry")

  private def now() = new java.sql.Timestamp(System.currentTimeMillis())

  private def update(name: String)(f: ArtifactRow => ArtifactRow): Unit =
    table.update { existing =>
      val row = existing.find(_.name == name).getOrElse(
        ArtifactRow(name, "unknown", "unknown", "unknown", "unknown",
          now(), now(), Seq.empty, Seq.empty, Map.empty))
      existing.filterNot(_.name == name) :+ f(row).copy(modified = now())
    }

  /** Create-or-touch the registry row (`created` is set once). */
  def upsert(name: String, artifactType: String, input: String = "unknown"): Unit =
    update(name)(r => r.copy(artifact_type = artifactType, input = input))

  /** Full onboarding row in ONE read-modify-write (type, input, owner,
    * status ready, health tags cleared, extra meta merged) — callers
    * must not observe a half-initialized artifact between separate
    * setter calls. */
  def onboardRow(name: String, artifactType: String, input: String,
                 owner: String, meta: Map[String, String] = Map.empty): Unit =
    update(name)(r => r.copy(artifact_type = artifactType, input = input,
      owner = owner, status = "ready", health_tags = Seq.empty,
      meta = r.meta ++ meta))

  def get(name: String): Option[ArtifactRow] = table.rows().find(_.name == name)
  def listNames(): Seq[String] = table.rows().map(_.name).sorted
  def list(): DataFrame =
    table.rows().sortBy(_.name).toDS().toDF()
  def delete(name: String): Unit = table.update(_.filterNot(_.name == name))

  /** Merge new keys into the artifact's free-form metadata
    * (reference: `upsert_workbench_meta`, artifact.py:238-276). */
  def upsertMeta(name: String, newMeta: Map[String, String]): Unit =
    update(name)(r => r.copy(meta = r.meta ++ newMeta))
  /** Atomic append to a comma-list meta value: the read-modify-write of
    * the current list happens INSIDE the registry lock. Two concurrent
    * appenders both land (an unlocked get-then-upsertMeta would lose
    * one — the lock only serializes writes, not stale reads). */
  def appendMetaList(name: String, key: String, value: String): Unit =
    update(name) { r =>
      val cur = r.meta.get(key).map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Nil)
      r.copy(meta = r.meta + (key -> (cur :+ value).distinct.mkString(",")))
    }
  def deleteMetaKey(name: String, key: String): Unit =
    update(name)(r => r.copy(meta = r.meta - key))
  /** Replace a whole key NAMESPACE in one locked read-modify-write:
    * every existing key under any of `prefixes` is dropped, then
    * `newMeta` merges in. One registry write regardless of how many
    * keys move — per-key deleteMetaKey cycles cost a full lock + parquet
    * swap each. */
  def replaceMetaPrefixes(name: String, prefixes: Seq[String],
                          newMeta: Map[String, String]): Unit =
    update(name)(r => r.copy(meta =
      r.meta.filterNot { case (k, _) => prefixes.exists(k.startsWith) } ++ newMeta))
  def getMeta(name: String): Map[String, String] =
    get(name).map(_.meta).getOrElse(Map.empty)

  // ── tags (ordered, duplicate-free — artifact.py:278-345) ──
  def getTags(name: String): Seq[String] = get(name).map(_.tags).getOrElse(Seq.empty)
  def setTags(name: String, tags: Seq[String]): Unit =
    update(name)(_.copy(tags = tags.distinct))
  def addTag(name: String, tag: String): Unit =
    update(name)(r => r.copy(tags = (r.tags :+ tag).distinct))
  def removeTag(name: String, tag: String): Unit =
    update(name)(r => r.copy(tags = r.tags.filterNot(_ == tag)))

  def getHealthTags(name: String): Seq[String] =
    get(name).map(_.health_tags).getOrElse(Seq.empty)
  def setHealthTags(name: String, tags: Seq[String]): Unit =
    update(name)(_.copy(health_tags = tags.distinct))
  def addHealthTag(name: String, tag: String): Unit =
    update(name)(r => r.copy(health_tags = (r.health_tags :+ tag).distinct))
  def removeHealthTag(name: String, tag: String): Unit =
    update(name)(r => r.copy(health_tags = r.health_tags.filterNot(_ == tag)))

  // ── owner / status / input (artifact.py:349-393) ──
  def getOwner(name: String): String = get(name).map(_.owner).getOrElse("unknown")
  def setOwner(name: String, owner: String): Unit = update(name)(_.copy(owner = owner))
  def getStatus(name: String): String = get(name).map(_.status).getOrElse("unknown")
  def setStatus(name: String, status: String): Unit = update(name)(_.copy(status = status))
  def getInput(name: String): String = get(name).map(_.input).getOrElse("unknown")
  def setInput(name: String, input: String): Unit = update(name)(_.copy(input = input))

  /** `["needs_onboard"]` until the artifact reaches `ready`
    * (reference: artifact.py:395-409); the computed issues are also
    * persisted as health tags like `set_health_tags`. */
  def healthCheck(name: String): Seq[String] = {
    val issues = if (getStatus(name) != "ready") Seq("needs_onboard") else Seq.empty
    setHealthTags(name, issues)
    issues
  }

  /** Basic fields + free-form meta in one map
    * (reference: artifact.py:411-425). */
  def summary(name: String): Map[String, String] =
    get(name).map { r =>
      Map(
        "name" -> r.name, "artifact_type" -> r.artifact_type,
        "owner" -> r.owner, "status" -> r.status, "input" -> r.input,
        "created" -> r.created.toString, "modified" -> r.modified.toString,
        "tags" -> r.tags.mkString(":"),
        "health_tags" -> r.health_tags.mkString(":")) ++ r.meta
    }.getOrElse(Map.empty)
}
