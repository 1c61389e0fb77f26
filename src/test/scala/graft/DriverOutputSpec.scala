package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Lint over every driver query's OUTPUT SCHEMA: the driver's checker
  * sorts result values before hashing (rows-only entries included),
  * and pandas cannot sort array/map/struct cells — q_embed_pca's raw
  * `array<double>` column crashed the r7 check (`TypeError: unhashable
  * type: numpy.ndarray`) and the row recorded NOTHING. This spec is
  * the cheap guard: every [[SparkEntry.queries]] entry must emit only
  * atomic columns. DecimalType is ALSO forbidden: pyarrow canonicalizes
  * decimal128 as `Decimal('32752')` → "32752" while the oracle side
  * comes back from DuckDB→pandas as float64 → "32752.0" — identical
  * values, divergent canonical strings, spurious hash FAIL (this is
  * exactly how r8's q_nb_eval went red; SURVEY §5: always emit DOUBLE).
  * Building the frame (not executing it) is enough to
  * read the schema, though entries that train artifacts or run a
  * streaming harness inside the builder do that work here too. */
class DriverOutputSpec extends AnyFunSuite with SparkSessionTestBase {

  private def atomic(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _: DecimalType => false
    case _ => true
  }

  test("every driver query emits only atomic non-decimal columns") {
    // q_ingest_stores_xml reads the StoresFull reference file, not
    // sfDir: it is left out only where that file is absent
    val xml = graft.sources.RawIngest.StoresFullReference
    val xmlAbsent = !java.nio.file.Files.exists(java.nio.file.Paths.get(xml))
    val (absent, entries) = SparkEntry.queries.toSeq.sortBy(_._1).partition {
      case (name, _) => xmlAbsent && name == "q_ingest_stores_xml"
    }
    absent.foreach { case (name, _) =>
      info(s"unchecked: $name (reference file absent: $xml)")
    }
    // a builder that throws is listed by entry name and the lint goes
    // on: one broken builder must not hide the entries sorted after it
    val offenders = entries.flatMap { case (name, fn) =>
      scala.util.Try(fn(spark, sfDir).schema) match {
        case scala.util.Success(schema) =>
          schema.fields
            .filterNot(f => atomic(f.dataType))
            .map(f => s"$name.${f.name}: ${f.dataType.simpleString}")
        case scala.util.Failure(e) => Seq(s"$name: builder threw $e")
      }
    }
    assert(offenders.isEmpty,
      s"driver query builders that threw, or forbidden driver output " +
        s"column types (non-atomic: checker cannot sort; decimal: " +
        s"canonical-string divergence vs the oracle):\n  " +
        offenders.mkString("\n  "))
  }
}
