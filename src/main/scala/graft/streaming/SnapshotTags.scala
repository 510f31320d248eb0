package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.store.{ModelStore, Pointer}

/** Named snapshots for both tiers: a tag is a [[graft.store.Pointer]]
  * `tag=NAME` under a tag directory. Its payload is the tagged values
  * separated by spaces — the release tier's as-of batch, the index tier's
  * (as-of batch, version) pair — optionally followed by `#nonce`, the
  * [[RunTags]] generation marker that makes a torn re-tag detectable.
  * Stores written before tags were pointers hold each tag as a one-row
  * parquet partition dir at the same name; those still read, and the
  * first re-tag of such a name replaces the dir with a pointer (that one
  * re-tag deletes before it writes, so a crash inside it loses the tag). */
private[streaming] object SnapshotTags {

  /** Tag names interpolate into the pointer path, so the charset is
    * fenced (ADVICE r13): '/' or '=' would corrupt the hive layout, '..'
    * could escape the tag directory. Checked on write AND read, so a
    * store written before the fence still cannot be read through an
    * escaping name. */
  def valid(tag: String): String = {
    require(tag.matches("[A-Za-z0-9._-]+") && !tag.contains(".."),
      s"bad snapshot tag '$tag': use [A-Za-z0-9._-]+ without '..'")
    tag
  }

  /** A nonce rides inside the payload, so its charset must not collide
    * with the `#` separator or the spaces between values. */
  private def validNonce(n: String): String = {
    require(n.matches("[A-Za-z0-9._-]+"),
      s"bad run nonce '$n': use [A-Za-z0-9._-]+")
    n
  }

  /** Point `tag` at `values`; every check runs before anything is
    * written. */
  def write(tagPath: String, tag: String, values: Seq[Long],
      nonce: Option[String]): Unit = {
    val name = s"tag=${valid(tag)}"
    val payload = values.mkString(" ") +
      nonce.map(n => s"#${validNonce(n)}").getOrElse("")
    val dir = Pointer.localDir(tagPath)
    Files.createDirectories(dir)
    // a file cannot replace a non-empty dir: upgrade a legacy tag first
    if (Files.isDirectory(dir.resolve(name)))
      ModelStore.deleteRecursively(dir.resolve(name))
    Pointer.write(dir, name, payload)
  }

  /** The values and nonce `tag` names, or None when it does not exist.
    * `fields` names the legacy parquet columns, one per value. */
  def read(spark: SparkSession, tagPath: String, tag: String,
      fields: Seq[String]): Option[(Seq[Long], Option[String])] = {
    val dir = Pointer.localDir(tagPath)
    val name = s"tag=${valid(tag)}"
    if (Files.isDirectory(dir.resolve(name))) {
      val r = spark.read.parquet(dir.resolve(name).toString)
        .select(fields.head, fields.tail: _*).head()
      Some((fields.indices.map(r.getLong), None))
    } else Pointer.read(dir, name).map { s =>
      val (values, nonce) = s.split("#", 2) match {
        case Array(v) => (v, None)
        case Array(v, n) => (v, Some(n.trim))
      }
      (values.trim.split("\\s+").map(_.toLong).toSeq, nonce)
    }
  }

  /** The values of every tag under `tagPath` — one listing and one tiny
    * read per tag. A missing or empty directory holds no tags; a
    * concurrent re-tag shows its old or new values, never none. */
  def all(spark: SparkSession, tagPath: String,
      fields: Seq[String]): Seq[Seq[Long]] = {
    val dir = Pointer.localDir(tagPath)
    if (!Files.isDirectory(dir)) Seq.empty
    else scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("tag=")).toList)
      .flatMap(n => read(spark, tagPath, n.stripPrefix("tag="), fields))
      .map(_._1)
  }
}
