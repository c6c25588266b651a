package graft.formats

import java.io.{ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.io.Text

/** Serializable wrapper shipping the session's Hadoop configuration to
  * executors — without it, executor-side `new Configuration()` loses every
  * `spark.hadoop.*` setting (S3 credentials, endpoints, custom FS), so
  * jobs that work on file:// fail on any real storage layer.
  *
  * Wire form: the entry count, then each `conf.iterator()` key and value
  * as a Hadoop `Text` string (vint length + UTF-8, no 64 KB limit), read
  * back with `set` into `new Configuration(false)`. Every task of every
  * scan and writer deserializes one, so the form is kept compact:
  * `Configuration.write` gzips each entry's property-source list (one
  * `Deflater` per entry, ~1000 entries in a default session), which
  * nearly doubles the bytes and takes several times longer to write and
  * to read. What executors lose is property-source provenance:
  * `getPropertySources` reports every key as set programmatically. */
final class SerializableHadoopConf(@transient var value: Configuration)
  extends Serializable {

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val entries = value.iterator().asScala.toSeq
    out.writeInt(entries.size)
    entries.foreach { e =>
      Text.writeString(out, e.getKey)
      Text.writeString(out, e.getValue)
    }
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    var n = in.readInt()
    while (n > 0) {
      value.set(Text.readString(in), Text.readString(in))
      n -= 1
    }
  }
}
