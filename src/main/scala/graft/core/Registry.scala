package graft.core

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.apache.spark.sql.types.DataType

import java.time.Instant

/** Central metadata registry: the rebuild of the reference's
  * `registry.db` blob (`CASE.MD:30,131-134`;
  * `station_reads_hourly_fs/feature_store.yaml:1-5`).
  *
  * One mechanism over two primitives: [[snapshot]] reads the whole
  * document once, [[update]] does one read-modify-write of it. Every
  * public method is a final method over those two, so a caller that
  * needs several lookups (a feature-store call resolving refs and join
  * keys) takes ONE snapshot and works from it — one read, one document
  * version — instead of one read per lookup.
  *
  * `apply` is idempotent-upsert and stamps created/lastUpdated like the
  * reference (`CASE.MD:180-185,276-279`); `list*`/`get*` are the discovery
  * surface (`CASE.MD:234-240`).
  */
trait Registry {
  import Registry._

  /** The registry document as of now, read once. */
  def snapshot(): State

  /** One read-modify-write of the document. */
  def update(f: State => State): Unit

  final def applyEntity(e: Entity): Unit =
    update(_.withEntity(e, Instant.now.toString))
  final def applyFeatureView(fv: FeatureView): Unit =
    update(_.withView(fv, Instant.now.toString))
  final def getEntity(name: String): Option[Entity] = snapshot().entities.get(name)
  final def getFeatureView(name: String): Option[FeatureView] = snapshot().views.get(name)
  final def listEntities(): Seq[Entity] = snapshot().entities.values.toSeq.sortBy(_.name)
  final def listFeatureViews(): Seq[FeatureView] = snapshot().views.values.toSeq.sortBy(_.name)
  final def listDataSources(): Seq[SparkSource] = listFeatureViews().map(_.source).distinct
  final def resolve(refs: Seq[String]): Seq[(FeatureView, Seq[Feature])] =
    snapshot().resolve(refs)
  final def meta(kind: String, name: String): Option[Meta] =
    snapshot().meta.get(s"$kind/$name")
}

/** Volatile registry for tests and ephemeral sessions. */
final class InMemoryRegistry extends Registry {
  @volatile private var state = Registry.State(Map.empty, Map.empty, Map.empty)
  override def snapshot(): Registry.State = state
  override def update(f: Registry.State => Registry.State): Unit =
    synchronized { state = f(state) }
}

/** Registry on any Hadoop filesystem (hdfs://, abfss://, s3a://, …) —
  * the cluster-ready analogue of the reference's `registry.db` blob on
  * ADLS (`station_reads_hourly_fs/feature_store.yaml:1-5`), and the
  * file-backed registry on a plain local path. The document is reread
  * on every [[snapshot]], so concurrent sessions observe upserts; writes
  * go to a temp path then rename (atomic on HDFS/ABFS directories-as-
  * objects semantics permitting; last-writer-wins like the reference).
  */
final class HadoopRegistry(
    pathStr: String,
    hadoopConf: org.apache.hadoop.conf.Configuration) extends Registry {
  import Registry._
  import org.apache.hadoop.fs.{FileSystem, Path}

  def this(spark: org.apache.spark.sql.SparkSession, path: String) =
    this(path, spark.sparkContext.hadoopConfiguration)

  private val path = new Path(pathStr)

  /** All in-flight or crashed writer tmps next to the registry —
    * writer-unique `.tmp-<uuid>` names (a FIXED shared tmp let two
    * concurrent writers in different JVMs publish a torn document: A's
    * rename could move B's half-written bytes into the final path);
    * the legacy fixed `.tmp` still matches the glob.
    */
  private def tmpStatuses(f: FileSystem): Seq[org.apache.hadoop.fs.FileStatus] =
    (try Option(f.globStatus(new Path(pathStr + ".tmp*")))
    catch { case scala.util.control.NonFatal(_) => None })
      .map(_.toSeq).getOrElse(Seq.empty)
  private def fs: FileSystem = path.getFileSystem(hadoopConf)

  /** Read the registry document. A concurrent [[save]] may transiently
    * leave the final path missing (FileContext rename-OVERWRITE is
    * atomic on HDFS but delete+rename on some FSes, e.g. local) — in
    * that window the `.tmp` file exists, so "final missing but tmp
    * present" means write-in-progress: retry rather than silently
    * returning an empty registry (which would let the next apply rewrite
    * the registry from empty and drop every definition).
    */
  private def load(): State = loadInternal()._1

  /** Stale-tmp horizon: a live swap completes in milliseconds, so a
    * tmp this much older than the FS clock with no final file is a
    * crashed writer (the [[ArtifactStore.orphanTmpHorizonMs]] posture;
    * shorter here because the registry write is one small JSON file,
    * not a parquet artifact).
    */
  private val staleTmpHorizonMs = 10000L

  /** FS-clock "now": the modification time of a freshly written probe
    * file next to the registry. Staleness must be judged on the
    * filesystem's clock — local `System.currentTimeMillis` vs a remote
    * FS's modtime can skew by more than the whole staleness threshold.
    * Only called on the rare final-missing-but-tmp-present branch.
    * Falls back to the client clock when the probe can't be written
    * (read-only mount — a crashed writer can't have left a tmp on a
    * mount nobody can write to), and a failed probe DELETE never masks
    * the computed time.
    */
  private def fsNow(f: FileSystem): Long = {
    val probe = new Path(pathStr + ".probe-" + java.util.UUID.randomUUID)
    try {
      val out = f.create(probe, true)
      try out.write('p') finally out.close()
      val t = f.getFileStatus(probe).getModificationTime
      try f.delete(probe, false)
      catch { case scala.util.control.NonFatal(_) => () }
      t
    } catch {
      case scala.util.control.NonFatal(_) => System.currentTimeMillis
    }
  }

  /** @return (state, resolvedViaStaleTmp). The second component is true
    * only when the state is empty *because* a stale `.tmp` from a
    * crashed writer was found — readers may proceed, but the
    * read-modify-write apply path must refuse to save over it (the
    * crashed writer's registry content is unknown; rewriting from empty
    * would silently drop every definition).
    */
  private def loadInternal(): (State, Boolean) = {
    val f = fs
    val deadline = System.nanoTime + 15L * 1000 * 1000 * 1000
    var sleepMs = 1L
    var attempts = 0
    // fsNow is a probe WRITE — sample it at most once per load and age
    // it with the local monotonic-ish clock, instead of one probe
    // create/stat/delete round trip per retry pass against an FS that
    // is busy with the very swap being waited out
    var fsNowBase = -1L
    var fsNowAtMs = 0L
    def fsAgeOf(mtime: Long): Long = {
      if (fsNowBase < 0) { fsNowBase = fsNow(f); fsNowAtMs = System.currentTimeMillis }
      fsNowBase + (System.currentTimeMillis - fsNowAtMs) - mtime
    }
    while (System.nanoTime < deadline) {
      if (f.exists(path)) {
        try {
          val in = f.open(path)
          try {
            val bytes = new java.io.ByteArrayOutputStream()
            org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 4096, false)
            return (fromJson(new String(bytes.toByteArray, "UTF-8")), false)
          } finally in.close()
        } catch {
          case _: java.io.FileNotFoundException => () // vanished mid-swap; retry
        }
      } else {
        // glob the tmps FIRST: the common missing-registry read (fresh
        // repo, pre-first-apply) must not pay — or crash on — a probe
        // write just to compute an age nothing needs
        val tmps = tmpStatuses(f)
        if (tmps.isEmpty) {
          // neither final nor in-progress temp: genuinely empty (the
          // re-check of the final path closes the tmp→final rename race)
          if (!f.exists(path)) return (State(Map.empty, Map.empty, Map.empty), false)
        } else if (fsAgeOf(tmps.map(_.getModificationTime).max) > staleTmpHorizonMs) {
          // stale tmp(s) from a crashed writer, not an in-flight swap.
          // If a tmp holds a COMPLETE non-empty document, the crash was
          // mid-swap of REAL content (delete+rename FS: final deleted,
          // rename never ran) — reading "empty" here would let every
          // pipeline silently no-op with green status. Fail loudly with
          // the recovery path instead.
          val recoverable = tmps.filter { st =>
            try {
              val in = f.open(st.getPath)
              try {
                val bytes = new java.io.ByteArrayOutputStream()
                org.apache.hadoop.io.IOUtils.copyBytes(in, bytes, 4096, false)
                val s = fromJson(new String(bytes.toByteArray, "UTF-8"))
                s.entities.nonEmpty || s.views.nonEmpty
              } finally in.close()
            } catch { case scala.util.control.NonFatal(_) => false }
          }
          if (recoverable.nonEmpty) throw new IllegalStateException(
            s"registry at $path is missing but a crashed writer left a " +
              s"COMPLETE document at ${recoverable.map(_.getPath).mkString(", ")} " +
              "— the registry was being replaced when the writer died. " +
              "Rename the newest tmp into place to recover it, or delete " +
              "the tmp(s) to accept an empty registry")
          // torn/empty tmp: the registry was never (re)written with
          // content — readable as empty, but flagged so apply() won't
          // rewrite the registry from the empty fallback
          return (State(Map.empty, Map.empty, Map.empty), true)
        }
        // fresh tmp: a swap is in flight, retry with backoff
      }
      attempts += 1
      Thread.sleep(sleepMs)
      sleepMs = math.min(sleepMs * 2, 200L)
    }
    throw new java.io.IOException(
      s"registry at $path unreadable after $attempts attempts over 15s (writer stuck mid-swap?)")
  }

  private def loadForUpdate(): State = {
    val (s, staleTmp) = loadInternal()
    if (staleTmp) throw new IllegalStateException(
      s"registry at $path has a stale in-progress write ($pathStr.tmp*); " +
        "refusing a read-modify-write from the empty fallback state (it " +
        "would drop the crashed writer's registry) — inspect/remove the " +
        "tmp file(s) first")
    s
  }

  private def save(s: State): Unit = {
    val f = fs
    // writer-unique tmp — see [[tmpStatuses]] for why a fixed name is a
    // torn-document hazard under concurrent cross-JVM writers
    val tmp = new Path(pathStr + ".tmp-" + java.util.UUID.randomUUID)
    val out = f.create(tmp, true)
    try out.write(toJson(s).getBytes("UTF-8")) finally out.close()
    // Replace via FileContext rename-OVERWRITE (atomic on HDFS; on FSes
    // where it degrades to delete+rename, load()'s tmp-aware retry keeps
    // readers from ever observing an empty registry).
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.makeQualified(path).toUri, hadoopConf)
    fc.rename(f.makeQualified(tmp), f.makeQualified(path),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    // best-effort sweep of STALE tmps (crashed writers): live concurrent
    // writers' tmps are younger than the horizon and survive. Without
    // this, unique-named orphans would accumulate next to the registry.
    // Deliberately a LONGER horizon than [[staleTmpHorizonMs]]: the
    // load-side horizon only classifies (throw/flag, never deletes),
    // while deleting a slow live writer's in-flight tmp here would fail
    // its rename — minutes-scale is safe because orphan accumulation is
    // not latency-sensitive (ADVICE r19).
    try {
      val leftovers = tmpStatuses(f)
      if (leftovers.nonEmpty) {
        val now = fsNow(f)
        leftovers
          .filter(st => now - st.getModificationTime > Registry.sweepHorizonMs)
          .foreach(st => f.delete(st.getPath, false))
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  override def snapshot(): State = load()

  override def update(f: State => State): Unit =
    synchronized { save(f(loadForUpdate())) }
}

object Registry {
  /** Age beyond which an orphan writer tmp is deleted by the save-time
    * sweep. Minutes, not seconds: a live concurrent writer's in-flight
    * tmp must survive even a pathologically slow write (slow NFS, very
    * large registry) — deleting it would fail that writer's atomic
    * rename. Distinct from the read-side staleness horizon, which only
    * classifies and never deletes.
    */
  val sweepHorizonMs: Long = 10L * 60 * 1000

  final case class Meta(created: String, lastUpdated: String)
  final case class State(
      entities: Map[String, Entity],
      views: Map[String, FeatureView],
      meta: Map[String, Meta]) {

    def featureView(name: String): FeatureView = views.getOrElse(name,
      throw new NoSuchElementException(s"feature view '$name' not registered"))

    /** The view's join keys, in entity order; an unregistered entity's
      * name doubles as its join key.
      */
    def joinKeys(fv: FeatureView): Seq[String] =
      fv.entities.flatMap { e =>
        entities.get(e).map(_.resolvedJoinKeys).getOrElse(Seq(e))
      }.distinct

    /** Resolve `"view:feature"` refs, grouped by view in first-seen order. */
    def resolve(refs: Seq[String]): Seq[(FeatureView, Seq[Feature])] = {
      val parsed = refs.map(FeatureRef.parse)
      parsed.map(_.view).distinct.map { viewName =>
        val fv = featureView(viewName)
        // duplicate refs (easy when concatenating ref lists) would emit
        // duplicate identically-named output columns downstream —
        // AMBIGUOUS_REFERENCE far from the cause; first occurrence wins
        val wanted = parsed.filter(_.view == viewName).map(_.feature).distinct
        val feats = wanted.map { f =>
          fv.features.find(_.name == f).getOrElse(
            throw new NoSuchElementException(s"feature '$f' not in view '$viewName'"))
        }
        (fv, feats)
      }
    }

    def withEntity(e: Entity, now: String): State =
      copy(entities = entities + (e.name -> e), meta = stamped("entity/" + e.name, now))
    def withView(fv: FeatureView, now: String): State =
      copy(views = views + (fv.name -> fv), meta = stamped("fv/" + fv.name, now))

    /** `created` is kept from the first apply, `lastUpdated` bumped. */
    private def stamped(key: String, now: String): Map[String, Meta] =
      meta + (key -> meta.getOrElse(key, Meta(now, now)).copy(lastUpdated = now))
  }

  // json4s serialization with DataType <-> DDL-string mapping.
  private object DataTypeSerializer extends CustomSerializer[DataType](_ => (
    { case JString(s) => DataType.fromDDL(s) },
    { case dt: DataType => JString(dt.catalogString) }
  ))
  private object ValueTypeSerializer extends CustomSerializer[ValueType.Value](_ => (
    { case JString(s) => ValueType.withName(s) },
    { case v: ValueType.Value => JString(v.toString) }
  ))
  private object DurationSerializer extends CustomSerializer[java.time.Duration](_ => (
    { case JString(s) => java.time.Duration.parse(s) },
    { case d: java.time.Duration => JString(d.toString) }
  ))
  private implicit val formats: Formats =
    DefaultFormats + DataTypeSerializer + ValueTypeSerializer + DurationSerializer

  def toJson(s: State): String =
    JsonMethods.pretty(Extraction.decompose(s))
  def fromJson(json: String): State =
    JsonMethods.parse(json).extract[State]
}
