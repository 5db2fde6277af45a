package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types._

/** Driver-side reader for the serving indexes' small parquet side
  * tables (LexicalIndex `stats`, IVF `centroids`, IVF-PQ `codebooks`,
  * the KNN donor index's `stats`): one row to a few thousand, written
  * once per build or merge. A Spark read of one is a job — at serving
  * time a job costs more than the bytes — so this reads the files
  * straight through parquet-hadoop under the session's Hadoop
  * configuration (the footer-read precedent in [[VersionedTable]]).
  *
  * Every call reads the files anew: no cache, so a read after a merge
  * or a rewrite at the same path sees what is on disk now. The values
  * are the parquet values themselves, so they are bit-identical to what
  * a Spark read under the same schema returns. */
object SideTable {

  /** Every row of the side table at `dir`, in file order, each with
    * `schema` attached (so `fieldIndex` works). Fails, naming the file,
    * when a file's schema is not `schema` (nullability aside) — a
    * table written by another version or another writer is an error,
    * not a silent null or a widened value. Supports the types the side
    * tables hold: int, long, double and arrays of them. */
  def read(spark: SparkSession, dir: String, schema: StructType): Array[Row] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    // data files only: Spark's writer leaves `_SUCCESS` and `.crc`
    // files beside them, and Spark's reader skips `_` and `.` names too
    val files = root.getFileSystem(conf).listStatus(root)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)
    files.flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        val found = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(fileSchema)
        require(nullable(found) == nullable(schema),
          s"side table $file has schema ${found.simpleString}, " +
            s"expected ${schema.simpleString}")
        val io = new ColumnIOFactory().getColumnIO(fileSchema)
        Iterator.continually(reader.readNextRowGroup()).takeWhile(_ != null)
          .flatMap { pages =>
            val records = io.getRecordReader(pages, new GroupRecordConverter(fileSchema))
            (0L until pages.getRowCount).map { _ =>
              val g = records.read()
              new GenericRowWithSchema(schema.fields.indices
                .map(i => field(g, i, schema.fields(i).dataType)).toArray, schema): Row
            }
          }.toArray
      } finally reader.close()
    }
  }

  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case other => other
  }

  /** Field `i` of `g` as Spark's Row holds it; null when absent. */
  private def field(g: Group, i: Int, dt: DataType): Any =
    if (g.getFieldRepetitionCount(i) == 0) null else value(g, i, 0, dt)

  /** The `j`-th value of field `i` of `g`. */
  private def value(g: Group, i: Int, j: Int, dt: DataType): Any = dt match {
    case IntegerType => g.getInteger(i, j)
    case LongType => g.getLong(i, j)
    case DoubleType => g.getDouble(i, j)
    case ArrayType(et, _) =>
      // a LIST group holds one repeated field: an element group (the
      // standard 3-level layout) or, in the legacy 2-level layout Spark
      // writes for non-null elements, the elements themselves
      val list = g.getGroup(i, j)
      val n = list.getFieldRepetitionCount(0)
      if (list.getType.getType(0).isPrimitive) (0 until n).map(value(list, 0, _, et))
      else (0 until n).map(k => field(list.getGroup(0, k), 0, et))
    case other =>
      throw new IllegalArgumentException(s"side tables hold no $other values")
  }
}
