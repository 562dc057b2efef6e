package graft.kv

import org.apache.spark.sql.{DataFrameWriter, Row}

/** The one write rule for KV run files: every parquet run written by
  * [[KVLog.append]], [[KVTable.compactTo]] and
  * `graft.streaming.Streams.ingestBatch` carries a bloom filter on
  * its key column (the analog of the reference's
  * `cache/bloom_filter_cache.rs` over SSTables), sized to the
  * distinct keys the file actually holds.
  *
  * Without a size hint parquet-mr gives every filtered column chunk
  * its whole `parquet.bloom.filter.max.bytes` budget (1 MiB): a small
  * run's files were mostly filter, and a point get read that 1 MiB
  * from every file it probed. parquet's ADAPTIVE filter instead
  * builds power-of-two candidates from the cap down to the 32-byte
  * floor, drops each candidate once the keys seen exceed what it
  * holds at the target false-positive rate, and writes the smallest
  * survivor — filter bytes follow the run's keys, as Monkey (Dayan et
  * al., SIGMOD 2017) argues for LSM filters. The false-positive
  * target stays parquet's 1% default.
  */
object KVRun {
  /** Filter cap per column chunk: parquet-mr's default max bytes. */
  val MaxFilterBytes: Int = 1 << 20

  /** parquet's smallest split-block filter: one 32-byte block. */
  val MinFilterBytes: Int = 32

  /** One candidate per power of two from [[MaxFilterBytes]] down to
    * [[MinFilterBytes]]: 1 MiB, 512 KiB, …, 32 B — 16 candidates. */
  val FilterCandidates: Int =
    Integer.numberOfTrailingZeros(MaxFilterBytes / MinFilterBytes) + 1

  /** Write `writer`'s rows as parquet at `path` with the key filter
    * described above. Mode and layout stay the caller's. */
  def write(writer: DataFrameWriter[Row], keyCol: String, path: String): Unit =
    writer
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      .option(s"parquet.bloom.filter.candidates.number#$keyCol",
        FilterCandidates.toString)
      .option("parquet.bloom.filter.max.bytes", MaxFilterBytes.toString)
      .parquet(path)
}
