package graft.perfbench

import java.util.concurrent.{Callable, Executors}
import graft.{Hashing, PageRow}
import graft.chunk.Chunker
import graft.extract.Extract
import org.apache.spark.sql.DataFrame

/** Chunk count plus an order-independent digest of (url, chunk_index,
  * chunk_hash) — the identity of a chunk table, whatever its file layout. */
final case class ChunkDigest(chunks: Long, digest: Long) {
  def +(o: ChunkDigest): ChunkDigest = ChunkDigest(chunks + o.chunks, digest + o.digest)
}

object ChunkDigest {
  val Empty: ChunkDigest = ChunkDigest(0, 0)

  def key(url: String, chunkIndex: Int, chunkHash: String): Long =
    Hashing.mix64(Hashing.fnv64(s"$url\u0000$chunkIndex\u0000$chunkHash"))

  /** Digest of a chunk table as the engine wrote it (e.g. `ExtractJob.readChunks`). */
  def of(chunks: DataFrame): ChunkDigest =
    chunks.select("url", "chunk_index", "chunk_hash").collect()
      .foldLeft(Empty)((d, r) => d + ChunkDigest(1, key(r.getString(0), r.getInt(1), r.getString(2))))
}

/** The reference: what the chunk table of a corpus must hold,
  * computed without Spark from `Extract.extractOne` + `Chunker.chunkDocument`
  * (the rule `ExtractJob` applies: only documents that extracted without
  * error to non-empty text are chunked). */
object Reference {

  def ofPage(p: PageRow): ChunkDigest = {
    val d = Extract.extractOne(p.url, p.html)
    if (d.err.nonEmpty || d.text.isEmpty) ChunkDigest.Empty
    else Chunker.chunkDocument(d.url, Hashing.sha256Hex(d.text), d.text)
      .foldLeft(ChunkDigest.Empty)((acc, c) =>
        acc + ChunkDigest(1, ChunkDigest.key(c.url, c.chunk_index, c.chunk_hash)))
  }

  /** Reference over `indexes`, generated and extracted on `threads` threads. */
  def of(indexes: Array[Long], row: Long => PageRow, threads: Int): ChunkDigest = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val slices = indexes.indices.grouped(math.max(1, indexes.length / (threads * 4) + 1)).toSeq
      val futures = slices.map(s => pool.submit(new Callable[ChunkDigest] {
        def call(): ChunkDigest = s.foldLeft(ChunkDigest.Empty)((acc, i) => acc + ofPage(row(indexes(i))))
      }))
      futures.foldLeft(ChunkDigest.Empty)(_ + _.get())
    } finally pool.shutdown()
  }
}
