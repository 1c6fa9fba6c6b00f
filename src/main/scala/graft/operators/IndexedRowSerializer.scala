package graft.operators

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream,
  InputStream, OutputStream}
import java.nio.ByteBuffer

import org.apache.spark.serializer.{DeserializationStream, SerializationStream, Serializer,
  SerializerInstance}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

import scala.reflect.ClassTag

/** Shuffle serializer for the aligned scatter's `(index, UnsafeRow)`
  * records ([[Positional.alignedBlocks]] under the DataFrame ops): per
  * record the index, the row's field count and length, and its bytes —
  * what Spark SQL's own exchange writes per row, plus the key. The
  * session's default serializer writes an object graph per record instead.
  * Streams only: a shuffle writes and reads through `writeKey`/`writeValue`
  * and `readKey`/`readValue`.
  */
private[graft] class IndexedRowSerializer extends Serializer with Serializable {
  override def newInstance(): SerializerInstance = new SerializerInstance {
    private def streamsOnly = throw new UnsupportedOperationException("stream-only serializer")
    def serialize[T: ClassTag](t: T): ByteBuffer = streamsOnly
    def deserialize[T: ClassTag](bytes: ByteBuffer): T = streamsOnly
    def deserialize[T: ClassTag](bytes: ByteBuffer, loader: ClassLoader): T = streamsOnly

    def serializeStream(s: OutputStream): SerializationStream = new SerializationStream {
      private val out = new DataOutputStream(new BufferedOutputStream(s))
      def writeObject[T: ClassTag](t: T): SerializationStream = {
        val (i, r) = t.asInstanceOf[(Long, UnsafeRow)]
        writeKey(i).writeValue(r)
      }
      override def writeKey[T: ClassTag](k: T): SerializationStream = {
        out.writeLong(k.asInstanceOf[Long]); this
      }
      override def writeValue[T: ClassTag](v: T): SerializationStream = {
        val r = v.asInstanceOf[UnsafeRow]
        out.writeInt(r.numFields); out.writeInt(r.getSizeInBytes); out.write(r.getBytes); this
      }
      def flush(): Unit = out.flush()
      def close(): Unit = out.close()
    }

    def deserializeStream(s: InputStream): DeserializationStream = new DeserializationStream {
      private val in = new DataInputStream(new BufferedInputStream(s))
      def readObject[T: ClassTag](): T = (readKey[Long](), readValue[UnsafeRow]()).asInstanceOf[T]
      override def readKey[T: ClassTag](): T = in.readLong().asInstanceOf[T]
      override def readValue[T: ClassTag](): T = {
        val r = new UnsafeRow(in.readInt())
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        r.pointTo(bytes, bytes.length)
        r.asInstanceOf[T]
      }
      def close(): Unit = in.close()
    }
  }
}
