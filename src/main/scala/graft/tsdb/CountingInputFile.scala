package graft.tsdb

import java.util.concurrent.atomic.AtomicLong

import org.apache.parquet.io.{DelegatingSeekableInputStream, InputFile, SeekableInputStream}

/** A parquet `InputFile` whose streams count every byte read into
  * `counter`: the bytes a parquet-java reader asked for, footer and
  * pages, whatever the file system buffers under it. */
private[graft] final class CountingInputFile(delegate: InputFile,
    counter: AtomicLong = new AtomicLong) extends InputFile {
  def bytesRead: Long = counter.get()
  override def getLength: Long = delegate.getLength
  override def newStream(): SeekableInputStream = {
    val in = delegate.newStream()
    new DelegatingSeekableInputStream(in) {
      override def getPos: Long = in.getPos
      override def seek(newPos: Long): Unit = in.seek(newPos)
      override def read(): Int = {
        val r = super.read(); if (r >= 0) counter.incrementAndGet(); r
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val r = super.read(b, off, len)
        if (r > 0) counter.addAndGet(r.toLong)
        r
      }
      override def read(buf: java.nio.ByteBuffer): Int = {
        val r = super.read(buf)
        if (r > 0) counter.addAndGet(r.toLong)
        r
      }
      override def readFully(b: Array[Byte]): Unit = {
        super.readFully(b); counter.addAndGet(b.length.toLong)
      }
      override def readFully(b: Array[Byte], off: Int, len: Int): Unit = {
        super.readFully(b, off, len); counter.addAndGet(len.toLong)
      }
      override def readFully(buf: java.nio.ByteBuffer): Unit = {
        val n = buf.remaining()
        super.readFully(buf); counter.addAndGet(n.toLong)
      }
    }
  }
}
