package graft.io

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** One committed state of a persisted layout: log entry `version` of
  * the layout at `root`. `parts` maps each partition value of `partCol`
  * to the data directory holding it, relative to `root` or, for a fork
  * over another layout, absolute. `schema` is the layout's row schema,
  * partition column last; `floor` is the vacuum floor; `meta` carries
  * the layout's own settings (an admission index's bucket count `kb`, a
  * version store's generation `gen`).
  */
final case class Snapshot(
    root: String, version: Long, partCol: String, schema: StructType,
    floor: Long, meta: Map[String, String], parts: Map[Long, String]) {

  /** The absolute data directory of partition `v`. */
  def dirOf(v: Long): String = Layout.resolve(root, parts(v))

  /** The rows of the partitions among `values` that exist, read with the
    * recorded schema: one scan per data directory over exactly its
    * partition directories, pruned on `partCol`. No partition discovery
    * over the whole layout, no schema inference job, and an empty
    * selection is an empty relation of the same schema.
    */
  def open(s: SparkSession, values: Seq[Long]): DataFrame = {
    val byDir = values.distinct.filter(parts.contains).groupBy(dirOf)
    if (byDir.isEmpty) s.createDataFrame(new java.util.ArrayList[Row](), schema)
    else byDir.toSeq.sortBy(_._1).map { case (dir, vs) =>
      s.read.schema(schema).option("basePath", dir)
        .parquet(vs.sorted.map(v => s"$dir/$partCol=$v"): _*)
        .filter(col(partCol).isin(vs: _*))
    }.reduce(_ unionByName _)
  }

  def readAll(s: SparkSession): DataFrame = open(s, parts.keys.toSeq)
}

/** The one commit protocol of every persisted layout (the Delta Lake
  * pattern): immutable data directories plus a numbered log. A layout
  * root holds data directories `d<N>-<id>` and log entries `_log/<N>`,
  * each a small text file with a full [[Snapshot]].
  *
  * A writer writes its data to a fresh directory (Spark's own job
  * commit), then writes `_log/.<N>.<id>.tmp` and publishes it as
  * `_log/<N>` with [[LayoutFs.publish]], which refuses an existing
  * name: of two writers of entry N one loses, cleanly. Readers take the
  * highest numbered entry, or a pinned one, and ignore dot-files. A data
  * directory no entry names is invisible, so a crash at any step leaves
  * the last committed state whole; the next [[gc]] removes its debris.
  */
object Layout {
  private val Log = "_log"
  private val DataDir = """d\d+-[0-9a-f]{8}""".r

  private[io] def resolve(root: String, dir: String): String =
    if (new HPath(dir).isAbsolute) dir else s"$root/$dir"

  /** The committed entry numbers, ascending. */
  def versions(root: String): Seq[Long] =
    LayoutFs.listNames(s"$root/$Log")
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).sorted

  /** The latest committed state, or the one pinned at entry `pin`. A pin
    * below the vacuum floor refuses: its data may be reclaimed.
    */
  def snapshot(root: String, pin: Option[Long] = None): Snapshot = {
    val vs = versions(root)
    require(vs.nonEmpty, s"no committed layout at $root")
    val latest = read(root, vs.last)
    pin.fold(latest) { p =>
      require(p >= latest.floor,
        s"pin $p is below the vacuum floor ${latest.floor}: its data may be reclaimed")
      require(vs.contains(p), s"layout $root has no entry $p")
      read(root, p)
    }
  }

  /** Entry 0 of a new layout at `root`: `df` written partitioned by
    * `partCol`.
    */
  def create(root: String, df: DataFrame, partCol: String,
             meta: Map[String, String] = Map.empty): Snapshot = {
    require(versions(root).isEmpty, s"a layout is already committed at $root")
    val schema = StructType(
      (df.schema.filterNot(_.name == partCol) :+ df.schema(partCol))
        .map(_.copy(nullable = true)))
    val empty = Snapshot(root, -1L, partCol, schema, 0L, meta, Map.empty)
    val (dir, written) = writeDir(empty, df)
    commit(empty.copy(version = 0L, parts = written.map(_ -> dir).toMap))
  }

  /** Replace the `touched` partitions of `prev` by the rows of `merged`,
    * written to a fresh data directory, and commit that as the next
    * entry. A touched partition `merged` has no rows for leaves the
    * layout.
    */
  def rewrite(prev: Snapshot, merged: DataFrame, touched: Seq[Long],
              meta: Map[String, String] = Map.empty): Snapshot = {
    val (dir, written) = writeDir(prev, merged)
    require(written.forall(touched.contains),
      s"rewrite of ${prev.root} wrote untouched partitions ${written.diff(touched)}")
    commit(prev.copy(version = prev.version + 1,
      parts = prev.parts -- touched ++ written.map(_ -> dir), meta = prev.meta ++ meta))
  }

  /** Commit `from`'s partitions, by absolute path, and its metadata as
    * the next entry after `into`: a layout takes over another layout's
    * state without copying a byte.
    */
  def adopt(into: Snapshot, from: Snapshot): Snapshot =
    commit(into.copy(version = into.version + 1, meta = from.meta,
      parts = from.parts.map { case (v, d) => v -> resolve(from.root, d) }))

  /** A run-local layout at `root` whose entry 0 is `base`: reads resolve
    * into the base's data directories, writes go to `root` only, and
    * the base is never written. Replaces whatever was at `root`.
    */
  def fork(base: Snapshot, root: String): Snapshot = {
    LayoutFs.deleteTree(root)
    adopt(base.copy(root = root, version = -1L, floor = 0L, parts = Map.empty), base)
  }

  /** Raise the vacuum floor to `floor` (never lower it) and commit it.
    * Returns the partitions whose data only entries below the new floor
    * reference: what [[gc]] may now reclaim.
    */
  def vacuum(root: String, floor: Long): Seq[Long] = {
    val latest = snapshot(root)
    val eff = math.max(latest.floor, floor)
    require(eff <= latest.version,
      s"floor $eff would hide the latest entry ${latest.version} of $root")
    if (eff == latest.floor) Nil
    else {
      val entries = versions(root).filter(_ >= latest.floor).map(read(root, _))
      val (below, live) = entries.partition(_.version < eff)
      val kept = live.flatMap(bindings).toSet
      val reclaimed = below.flatMap(bindings).filterNot(kept).map(_._1).distinct.sorted
      commit(latest.copy(version = latest.version + 1, floor = eff))
      reclaimed
    }
  }

  /** Delete the data this root owns that no entry at or above the floor
    * references: whole data directories no such entry names (including
    * an uncommitted writer's), and single partition directories. Data a
    * fork reaches by absolute path belongs to its base and is never
    * touched. Run it with no writer active on `root`.
    */
  def gc(root: String): Unit = {
    val latest = snapshot(root)
    val live = versions(root).filter(_ >= latest.floor).map(read(root, _))
      .flatMap(_.parts.toSeq).groupBy(_._2).map { case (d, vs) => d -> vs.map(_._1).toSet }
    val prefix = s"${latest.partCol}="
    LayoutFs.listSubdirNames(root).filter(DataDir.matches).foreach { dir =>
      live.get(dir) match {
        case None => LayoutFs.deleteTree(s"$root/$dir")
        case Some(vs) =>
          LayoutFs.listSubdirNames(s"$root/$dir")
            .filter(n => n.startsWith(prefix) && !vs.contains(n.stripPrefix(prefix).toLong))
            .foreach(n => LayoutFs.deleteTree(s"$root/$dir/$n"))
      }
    }
  }

  /** Each partition with its absolute data directory. */
  private def bindings(s: Snapshot): Seq[(Long, String)] =
    s.parts.keys.toSeq.map(v => v -> s.dirOf(v))

  /** Write `df` partitioned by `prev.partCol` to a fresh data directory;
    * returns its name and the partition values it holds.
    */
  private def writeDir(prev: Snapshot, df: DataFrame): (String, Seq[Long]) = {
    val dir = f"d${prev.version + 1}-${scala.util.Random.nextInt()}%08x"
    val path = s"${prev.root}/$dir"
    df.write.partitionBy(prev.partCol).mode("errorifexists").parquet(path)
    val prefix = s"${prev.partCol}="
    (dir, LayoutFs.listSubdirNames(path).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong))
  }

  /** Write entry `next.version` and publish it; fails if another writer
    * committed that entry first.
    */
  private def commit(next: Snapshot): Snapshot = {
    val log = s"${next.root}/$Log"
    val tmp = s"$log/.${next.version}.${java.util.UUID.randomUUID()}.tmp"
    LayoutFs.writeFile(tmp, render(next))
    require(LayoutFs.publish(tmp, s"$log/${next.version}"),
      s"entry ${next.version} of ${next.root} was committed by another writer")
    next
  }

  private def render(s: Snapshot): String = {
    val dirs = s.parts.groupBy(_._2).toSeq.sortBy(_._1).map { case (d, vs) =>
      s"dir\t$d\t${vs.keys.toSeq.sorted.mkString(",")}"
    }
    (Seq(s"part\t${s.partCol}", s"floor\t${s.floor}", s"schema\t${s.schema.toDDL}") ++
      s.meta.toSeq.sorted.map { case (k, v) => s"meta\t$k\t$v" } ++ dirs)
      .mkString("", "\n", "\n")
  }

  private def read(root: String, version: Long): Snapshot = {
    val rows = LayoutFs.readFile(s"$root/$Log/$version").split("\n").toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    def one(k: String): String = rows.collectFirst { case Seq(`k`, v) => v }
      .getOrElse(sys.error(s"entry $version of $root has no $k"))
    Snapshot(root, version, one("part"), StructType.fromDDL(one("schema")),
      one("floor").toLong,
      rows.collect { case Seq("meta", k, v) => k -> v }.toMap,
      rows.collect { case Seq("dir", d, vs) =>
        vs.split(",").toSeq.filter(_.nonEmpty).map(_.toLong -> d)
      }.flatten.toMap)
  }
}
