package graft

import graft.log.{Checkpoint, DeltaLog}
import graft.storage.Location
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile

/** Fixture builder for the retired graft checkpoint layout, which the
  * library still reads but no longer writes: one action JSON line per
  * row in `%020d.graft-checkpoint.parquet` (the snapshot plus the head
  * commitInfo, as earlier builds wrote it) and `_graft_last_checkpoint`
  * pointing at it. Tests use it to build tables that predate the single
  * delta-format layout.
  */
object LegacyGraftCheckpoint {

  /** Write the graft-layout checkpoint of `dlog`'s head into `dir`
    * (the table's own log by default) and point the graft pointer at it.
    */
  def write(dlog: DeltaLog, conf: Configuration, dir: Location = null): Unit = {
    val into = Option(dir).getOrElse(dlog.loc)
    into.mkdirs()
    val v = dlog.version
    val headCommit = dlog.entries.keys.toSeq.reverseIterator
      .flatMap(k => dlog.entries(k).commitInfos.lastOption).nextOption()
    val actions = Checkpoint.snapshotActions(dlog) ++ headCommit
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(into.child(Checkpoint.checkpointFilename(v)).path, conf))
      .withType(Checkpoint.graftLayoutSchema)
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val factory = new SimpleGroupFactory(Checkpoint.graftLayoutSchema)
    try actions.foreach(a => writer.write(factory.newGroup().append("json", a.toLine)))
    finally writer.close()
    into.child(Checkpoint.LastCheckpointFile)
      .writeString(s"""{"version":$v,"size":${actions.size}}""")
  }
}
