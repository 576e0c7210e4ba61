package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.SqliteFile

/** [[graft.sources.SqliteFile]] against `sqlite/cases.sqlite`, a file
  * SQLite itself wrote (`tools/make_sqlite_fixtures.py`, page size 512).
  * Each table drives one part of the file format; the expected values
  * are recomputed here from the same formulas the generator used.
  */
class SqliteFileSpec extends SparkTestBase {

  private val Path = getClass.getResource("/sqlite/cases.sqlite").getPath

  private val Ints: Seq[java.lang.Long] = Seq[Any](
    0L, 1L, -1L, 127L, -128L, 128L, 32767L, -32768L, 32768L, 8388607L,
    -8388608L, 8388608L, 2147483647L, -2147483648L, 2147483648L,
    140737488355327L, -140737488355328L, 140737488355328L,
    Long.MaxValue, Long.MinValue, null).map {
    case null => null
    case l: Long => java.lang.Long.valueOf(l)
  }
  private val Text = "naïve café — 東京"
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  private def read(table: String, schema: StructType,
      rowidAlias: Option[String] = None): Array[Row] =
    SqliteFile.readTable(spark, Path, table, schema, rowidAlias).collect()

  test("every integer serial type, REAL (integral REALs stored as " +
       "integers), BLOB, NULL and multi-byte TEXT decode to the written " +
       "values; INTEGER PRIMARY KEY reads the rowid") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType),
      StructField("r", DoubleType), StructField("b", BinaryType),
      StructField("t", StringType)))
    val rows = read("ints", schema, rowidAlias = Some("id"))
    assert(rows.length === Ints.length)
    for ((row, k) <- rows.zipWithIndex) {
      val i = k + 1
      assert(row.getLong(0) === i * 7L, s"rowid of row $i")
      assert(row.get(1) === Ints(k), s"v of row $i")
      val r: Any =
        if (Ints(k) == null) null
        else if (i % 2 == 1) i + 0.25
        else i * 1000.0
      assert(row.get(2) === r, s"r of row $i")
      assert(row.getAs[Array[Byte]](3).toSeq === (0 until i).map(_.toByte),
        s"b of row $i")
      assert(row.getString(4) === s"$i:$Text", s"t of row $i")
    }
    // the aliased column's record slot holds NULL: without the alias
    // the reader reports exactly that
    assert(read("ints", schema).forall(_.isNullAt(0)))
  }

  test("values longer than a page reassemble from overflow-page chains") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("body", StringType)))
    val rows = read("long_text", schema, rowidAlias = Some("id"))
    val lengths = Seq(10, 400, 600, 5000, 20000)
    assert(rows.map(_.getLong(0)).toSeq === (1L to lengths.length))
    for ((row, n) <- rows.zip(lengths)) {
      val i = row.getLong(0)
      val body = (s"$i:" + Alpha * (n / Alpha.length + 1)).take(n)
      assert(row.getString(1).length === n, s"length of row $i")
      assert(row.getString(1) === body, s"body of row $i")
    }
  }

  test("a table deep enough for interior b-tree pages yields every row " +
       "exactly once, in rowid order") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("k", StringType)))
    val rows = read("many", schema, rowidAlias = Some("id"))
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      (1L to 3000L).map(i => (i, f"k$i%05d")))
  }

  test("rows written before ALTER TABLE ADD COLUMN (short records) read " +
       "the added column as NULL") {
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", LongType),
      StructField("c", StringType)))
    assert(read("altered", schema).toSeq === Seq(
      Row("old1", 1L, null), Row("old2", 2L, null), Row("old3", 3L, null),
      Row("new4", 4L, "c4"), Row("new5", 5L, null)))
  }

  test("an unknown table names the tables the file has; a file that is " +
       "not SQLite is rejected") {
    val schema = StructType(Seq(StructField("a", StringType)))
    val missing = intercept[RuntimeException](read("nope", schema))
    assert(missing.getMessage.contains("no table 'nope'"))
    for (t <- Seq("ints", "long_text", "many", "altered"))
      assert(missing.getMessage.contains(t), s"$t not listed")
    val notSqlite = getClass.getResource("/legacy/actors.jsonl").getPath
    val bad = intercept[IllegalArgumentException] {
      SqliteFile.readTable(spark, notSqlite, "actors", schema)
    }
    assert(bad.getMessage.contains("not a SQLite 3 database file"))
  }
}
