package graft.registry

import graft.workflow.{EventBus, Events}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Model version lifecycle stages — GENERATED → VALIDATED → DEPLOYED →
  * DEPRECATED (reference processor.py:26,168-198).
  */
object Stage {
  val Generated = "GENERATED"
  val Validated = "VALIDATED"
  val Deployed = "DEPLOYED"
  val Deprecated = "DEPRECATED"
}

final case class DatasetMeta(name: String, format: String, uri: String)
final case class ModelVersionMeta(model: String, version: Int, path: String,
    stage: String)
final case class ArtifactMeta(name: String, uri: String)

/** File-backed metadata registry — the engine's replacement for the
  * reference's AI Flow metadata/model-center gRPC services (SURVEY.md
  * §1.1 items 4-6, §2.2 O6): datasets, models with staged versions,
  * artifacts. State is one JSON file under `workdir`, rewritten on each
  * mutation (metadata-scale, not data-scale); stage transitions publish
  * events on `bus`, which is what drives the workflow's control edges.
  */
final class Registry(workdir: String, val bus: EventBus) {

  private val datasets = mutable.LinkedHashMap.empty[String, DatasetMeta]
  private val models = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[ModelVersionMeta]]
  private val artifacts = mutable.LinkedHashMap.empty[String, ArtifactMeta]

  private val stateFile = Paths.get(workdir, "registry.json")
  load()

  // --- datasets (af.register_dataset, workflow.py:42-44) --------------

  def registerDataset(name: String, format: String, uri: String): DatasetMeta = {
    val m = DatasetMeta(name, format, uri)
    datasets(name) = m; persist(); m
  }

  def getDataset(name: String): Option[DatasetMeta] = datasets.get(name)

  def listDatasets: Seq[DatasetMeta] = datasets.values.toSeq

  def removeDataset(name: String): Boolean = {
    val existed = datasets.remove(name).isDefined
    if (existed) persist()
    existed
  }

  /** Atomic rename: both the remove and the add land in ONE persist, so
    * no failure point leaves both identifiers registered (the two-call
    * register-then-remove sequence did — round-3 advice). Preserves the
    * dataset's position semantics of LinkedHashMap insertion order only
    * for the new name (it re-enters at the tail, like any re-register).
    */
  def renameDataset(oldName: String, newName: String): DatasetMeta = {
    val meta = datasets.getOrElse(oldName,
      throw new NoSuchElementException(s"unknown dataset $oldName"))
    require(!datasets.contains(newName), s"dataset $newName already exists")
    datasets.remove(oldName): Unit
    val renamed = meta.copy(name = newName)
    datasets(newName) = renamed
    persist()
    renamed
  }

  // --- models (af.register_model / register_model_version /
  //     update_model_version, workflow.py:77-78, processor.py:138,170) --

  def registerModel(name: String): Unit = {
    models.getOrElseUpdate(name, mutable.ArrayBuffer.empty); persist()
  }

  /** New version enters at stage GENERATED and emits MODEL_GENERATED. */
  def registerModelVersion(model: String, path: String): ModelVersionMeta = {
    val versions = models.getOrElseUpdate(model, mutable.ArrayBuffer.empty)
    val v = ModelVersionMeta(model, versions.size + 1, path, Stage.Generated)
    versions += v
    persist()
    bus.publish(Events.ModelGenerated, model)
    v
  }

  def updateModelVersionStage(model: String, version: Int,
      stage: String): ModelVersionMeta = {
    val versions = models(model)
    val i = versions.indexWhere(_.version == version)
    require(i >= 0, s"unknown version $version of model $model")
    val updated = versions(i).copy(stage = stage)
    versions(i) = updated
    persist()
    stage match {
      case Stage.Validated => bus.publish(Events.ModelValidated, model)
      case Stage.Deployed => bus.publish(Events.ModelDeployed, model)
      case Stage.Deprecated => bus.publish(Events.ModelDeprecated, model)
      case _ => ()
    }
    updated
  }

  def modelVersions(model: String): Seq[ModelVersionMeta] =
    models.get(model).map(_.toSeq).getOrElse(Nil)

  def getDeployedModelVersion(model: String): Option[ModelVersionMeta] =
    modelVersions(model).findLast(_.stage == Stage.Deployed)

  def getLatestGeneratedModelVersion(model: String): Option[ModelVersionMeta] =
    modelVersions(model).findLast(_.stage == Stage.Generated)

  // --- artifacts (af.register_artifact, workflow.py:92-93; appended to
  //     as a plain file, processor.py:184-187) -------------------------

  def registerArtifact(name: String, uri: String): ArtifactMeta = {
    val a = ArtifactMeta(name, uri)
    artifacts(name) = a; persist(); a
  }

  def getArtifactByName(name: String): Option[ArtifactMeta] = artifacts.get(name)

  /** Versioned artifact registration (r16 verdict #7): the publish
    * layer's storage-backed indexes (near-dup history index, CCNet
    * fluency LM, BM25 idf) enter the SAME registry as models instead
    * of being findable only by path convention. The bare `name` always
    * tracks the CURRENT publish; the `name@version` spelling pins each
    * historical publish forever — a reader holding an old corpus
    * fingerprint still resolves exactly its artifact (published paths
    * are immutable and `_SUCCESS`-gated, so a stale pointer is stale
    * but never wrong). */
  def registerVersionedArtifact(name: String, uri: String,
      version: Option[String] = None): ArtifactMeta = {
    require(!name.contains("@"),
      s"artifact name must not contain '@' (reserved for versions): $name")
    version match {
      // pin-forever means PIN: re-registering an existing version with
      // the same uri is a FULL no-op — the version pointer stays, and
      // the bare "current" pointer is NOT touched either (a retried
      // registration of an OLD version must not silently roll the
      // current pointer backward; an explicit rollback goes through
      // registerArtifact directly). A differing uri is an ERROR —
      // silently repointing a version would hand a reader holding the
      // old fingerprint someone else's artifact (r17 review ×2).
      case Some(v) =>
        artifacts.get(s"$name@$v") match {
          case Some(a) if a.uri != uri =>
            throw new IllegalArgumentException(
              s"artifact $name@$v is already pinned to ${a.uri}; " +
                s"refusing to repoint it to $uri — versions are " +
                "immutable, register a new version instead")
          case Some(a) => a
          case None =>
            // Both pointers land in ONE persist: two separate
            // registerArtifact calls would each persist, and a crash
            // between them leaves the version pinned with the bare
            // "current" pointer stale — the retry then hits the
            // Some(a)/same-uri no-op above and current serves the OLD
            // publish forever (r17 ADVICE medium). Atomically, a retry
            // sees either nothing or both pointers.
            artifacts(s"$name@$v") = ArtifactMeta(s"$name@$v", uri)
            val cur = ArtifactMeta(name, uri)
            artifacts(name) = cur
            persist()
            cur
        }
      case None => registerArtifact(name, uri)
    }
  }

  /** Resolve a versioned artifact: bare name → current publish;
    * with `version` → that exact historical publish. */
  def resolveArtifact(name: String,
      version: Option[String] = None): Option[ArtifactMeta] =
    getArtifactByName(version.fold(name)(v => s"$name@$v"))

  def appendToArtifact(name: String, line: String): Unit = {
    val uri = artifacts(name).uri
    val p = Paths.get(uri)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, line + "\n", StandardCharsets.UTF_8,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND): Unit
  }

  // --- persistence ----------------------------------------------------

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def persist(): Unit = {
    Files.createDirectories(Paths.get(workdir))
    val ds = datasets.values.map(d =>
      s"""{"name":${q(d.name)},"format":${q(d.format)},"uri":${q(d.uri)}}""")
    val ms = models.map { case (name, vs) =>
      val vj = vs.map(v =>
        s"""{"version":${v.version},"path":${q(v.path)},"stage":${q(v.stage)}}""")
      s"""{"name":${q(name)},"versions":[${vj.mkString(",")}]}"""
    }
    val as = artifacts.values.map(a =>
      s"""{"name":${q(a.name)},"uri":${q(a.uri)}}""")
    val json =
      s"""{"datasets":[${ds.mkString(",")}],"models":[${ms.mkString(",")}],"artifacts":[${as.mkString(",")}]}"""
    // write a sibling then rename over the state file: an in-place
    // rewrite truncates first, so a crash mid-write would leave a torn
    // registry.json that no later process can load
    val tmp = stateFile.resolveSibling("registry.json.tmp")
    Files.writeString(tmp, json, StandardCharsets.UTF_8)
    Files.move(tmp, stateFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def load(): Unit = if (Files.exists(stateFile)) {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def corrupt(why: String, cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"registry state file $stateFile cannot be loaded: $why", cause)
    val root =
      try mapper.readTree(Files.readString(stateFile))
      catch { case e: java.io.IOException => corrupt(e.getMessage, e) }
    // an empty file parses to a missing node, not an error
    if (root == null || !root.isObject) corrupt("not a JSON object", null)
    root.path("datasets").elements().asScala.foreach { d =>
      val m = DatasetMeta(d.path("name").asText(), d.path("format").asText(),
        d.path("uri").asText())
      datasets(m.name) = m
    }
    root.path("models").elements().asScala.foreach { m =>
      val name = m.path("name").asText()
      val vs = mutable.ArrayBuffer.empty[ModelVersionMeta]
      m.path("versions").elements().asScala.foreach { v =>
        vs += ModelVersionMeta(name, v.path("version").asInt(),
          v.path("path").asText(), v.path("stage").asText())
      }
      models(name) = vs
    }
    root.path("artifacts").elements().asScala.foreach { a =>
      val m = ArtifactMeta(a.path("name").asText(), a.path("uri").asText())
      artifacts(m.name) = m
    }
  }
}
