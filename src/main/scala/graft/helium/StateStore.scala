package graft.helium

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import Model.IngestState

/** The follower cursor (`follower_info`, migrations/V2) as a file-backed
  * monotonic state store — S5/K3 parity.
  *
  * Implementation: one tiny versioned file per advance under
  * `<root>/ingest_state/`, named `state-<height>`. Readers take the max —
  * a crash between data commit and cursor advance leaves the old cursor, so
  * the block range is re-processed into the same idempotent partition
  * (exactly-once, K4: src/follower.rs:100-112). Uses the Hadoop FileSystem
  * API so the same code runs on HDFS/S3 at cluster scale (create-new is
  * atomic on HDFS; on object stores the max-of-names read makes stale
  * duplicates harmless).
  */
class StateStore(spark: SparkSession, root: String) extends Serializable {
  private val dir = new Path(root, "ingest_state")
  private def fs: FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** src/follower.rs:123-142 — None when no follower_info row exists.
    * Malformed names (torn create on an object store, stray files) are
    * skipped, not fatal: the max-of-names read works off whatever valid
    * versions remain, and the sink's marker floor covers total loss — a
    * parse crash here would make every commit and bootstrap fail in
    * exactly the metadata-corruption scenario recovery exists for. */
  def load(): Option[IngestState] = {
    if (!fs.exists(dir)) return None
    val states = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("state-"))
      .flatMap { n =>
        n.stripPrefix("state-").split("_") match {
          case Array(h, fb) =>
            scala.util.Try(IngestState(h.toLong, fb.toLong)).toOption
          case _ => None
        }
      }
    if (states.isEmpty) None else Some(states.maxBy(_.height))
  }

  /** K3 — cursor advance (src/block_processor.rs:149-154). Monotonic:
    * refuses to move backwards (the reference's single-writer loop makes
    * this implicit; we make it explicit). */
  def advance(st: IngestState): Unit = {
    load().foreach { cur =>
      require(st.height >= cur.height,
        s"cursor would move backwards: ${cur.height} -> ${st.height}")
    }
    fs.mkdirs(dir)
    val f = new Path(dir, s"state-${st.height}_${st.first_block}")
    // re-advancing to the same height is a no-op (idempotent batch replay
    // after a crash-before-cursor lands here)
    if (!fs.exists(f)) {
      val out = fs.create(f, false)
      out.close()
    }
    // keep the directory bounded: drop all but the newest few versions
    // (malformed names sort as MinValue, i.e. pruned first, never fatal)
    val old = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("state-"))
      .sortBy(p => scala.util.Try(
        p.getName.stripPrefix("state-").split("_")(0).toLong)
        .getOrElse(Long.MinValue))
      .dropRight(10)
    old.foreach(p => fs.delete(p, false))
  }
}
