package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One generation of a persisted index: its parquet artifacts by name,
  * every row keyed by an id (`doc_id`, `vec_id`). The lifecycle of an
  * index is row algebra over those ids, spelled once here as three verbs:
  * [[prune]] (erase), [[append]] (add) and [[fold]] (compact).
  *
  * A verb writes only the artifacts it changes, as `<root>/<name>.parquet`
  * under the child root it is given, and returns the child; an artifact
  * it leaves alone stays a path into the parent and is never copied, as
  * the reference's cascade merge queues each merged run as a new input.
  * Artifacts that are not per-id rows (a frozen quantizer, say)
  * are not part of a generation: they stay with the build that made them. */
final case class Generation(spark: SparkSession, files: Map[String, String]) {

  /** Artifact `name`'s rows. */
  def apply(name: String): DataFrame = Tables.read(spark, files(name))

  /** Every artifact without the rows that fail `keep`. Each row is a
    * function of its own id, so this equals a rebuild over the survivors. */
  def prune(root: String, keep: Column): Generation =
    rewrite(root, files.keys)(apply(_).filter(keep))

  /** The artifacts `delta` names, each with the delta's rows added. */
  def append(root: String, delta: Map[String, DataFrame]): Generation =
    rewrite(root, delta.keys)(n => apply(n).unionByName(delta(n)))

  /** Every artifact as `base ∪ deltas − tombstones`, where `tombstones`
    * holds the key column of the ids to drop. A tombstone removes rows
    * only from the generations it folds: a later [[append]] of its id
    * keeps the row. */
  def fold(root: String, deltas: Seq[Map[String, DataFrame]],
      tombstones: DataFrame): Generation =
    rewrite(root, files.keys) { n =>
      deltas.flatMap(_.get(n)).foldLeft(apply(n))(_ unionByName _)
        .join(tombstones, tombstones.columns.toSeq, "left_anti")
    }

  private def rewrite(root: String, names: Iterable[String])(
      rows: String => DataFrame): Generation =
    copy(files = files ++ names.map { n =>
      val path = Generation.path(root, n)
      Tables.write(rows(n), path)
      n -> path
    })
}

object Generation {

  private def path(root: String, name: String): String = s"$root/$name.parquet"

  /** The generation whose artifacts `names` sit under `root`. */
  def at(spark: SparkSession, root: String, names: String*): Generation =
    Generation(spark, names.map(n => n -> path(root, n)).toMap)

  /** A new generation: each of `rows` written under `root`. */
  def write(spark: SparkSession, root: String,
      rows: Map[String, DataFrame]): Generation =
    Generation(spark, Map.empty).rewrite(root, rows.keys)(rows)

  /** The generation of `names` that `build` writes, once per JVM, under
    * the [[Tables.store]] root for (`prefix`, `dir`). */
  def store(spark: SparkSession, prefix: String, dir: String,
      names: String*)(build: String => Unit): Generation =
    at(spark, Tables.store(prefix, dir)(build), names: _*)

  /** One artifact written once per JVM under the [[Tables.store]] root
    * for (`prefix`, `dir`): a tombstone set or a delta several folds share. */
  def stored(spark: SparkSession, prefix: String, dir: String, name: String)(
      rows: => DataFrame): DataFrame =
    store(spark, prefix, dir, name)(write(spark, _, Map(name -> rows)))(name)
}
