package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

/** Declarative column specification — the engine's "table model".
  *
  * One spec per target column. Mirrors what the reference declares per
  * pydantic field (reference: src/sources/base.py:7-8 and the example models
  * at src/sources/systems/sales/sales.py:7-15,
  * src/sources/systems/customer/customer.py:12-41): target name, file-column
  * alias, declared type, nullability, max length, and custom per-field
  * cleaners. The spec is simultaneously
  *   (a) the projection map (file alias -> field name),
  *   (b) the validation rule source (type cast, max_length, email, custom),
  *   (c) the DDL for the target table (via [[structField]]).
  *
  * Cleaners run *before* the cast (reference applies pydantic
  * BeforeValidators, customer.py:25-41) and must be pure `Column => Column`
  * functions. Cleaners and checks keep the validation inside whole-stage
  * codegen only while they build no `CodegenFallback` expression (a
  * higher-order function such as `filter` or `transform`): one such
  * expression pulls the source's entire validate projection out of
  * generated code.
  *
  * @param name      target column name (lowercase snake_case)
  * @param dataType  declared Spark type (see SURVEY §1.2 type mapping)
  * @param alias     column name in the file; defaults to `name`. Matching is
  *                  case-insensitive (reference src/pipeline/read/base.py:42-64)
  * @param nullable  whether nulls are allowed after cast
  * @param maxLength optional string max length (String(n) in the reference,
  *                  reference db_utils.py:152-168)
  * @param email     validate RFC-lite email format (EmailStr)
  * @param cleaners  pre-cast transforms applied in order
  * @param check     optional extra rule: given the *cast* column, return a
  *                  Boolean Column that must hold, plus an error label
  */
final case class ColumnSpec(
    name: String,
    dataType: DataType,
    alias: Option[String] = None,
    nullable: Boolean = true,
    maxLength: Option[Int] = None,
    email: Boolean = false,
    cleaners: Seq[Column => Column] = Nil,
    check: Option[(String, Column => Column)] = None) {

  /** File-side column name, lowercased for case-insensitive match. */
  def fileAlias: String = alias.getOrElse(name).toLowerCase

  def structField: StructField = StructField(name, dataType, nullable)
}

object ColumnSpec {
  /** RFC-lite email pattern, equivalent in intent to pydantic's EmailStr
    * (reference db_utils.py:61 maps EmailStr -> String(320)).
    */
  val EmailRegex: String = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"

  def string(name: String, alias: String = null, nullable: Boolean = true,
             maxLength: Int = -1): ColumnSpec =
    ColumnSpec(name, StringType, Option(alias), nullable,
      if (maxLength > 0) Some(maxLength) else None)

  def int(name: String, alias: String = null, nullable: Boolean = true): ColumnSpec =
    ColumnSpec(name, IntegerType, Option(alias), nullable)

  def long(name: String, alias: String = null, nullable: Boolean = true): ColumnSpec =
    ColumnSpec(name, LongType, Option(alias), nullable)

  def double(name: String, alias: String = null, nullable: Boolean = true): ColumnSpec =
    ColumnSpec(name, DoubleType, Option(alias), nullable)

  def decimal(name: String, precision: Int = 38, scale: Int = 18,
              alias: String = null, nullable: Boolean = true): ColumnSpec =
    ColumnSpec(name, DecimalType(precision, scale), Option(alias), nullable)

  def boolean(name: String, alias: String = null, nullable: Boolean = true): ColumnSpec =
    ColumnSpec(name, BooleanType, Option(alias), nullable)

  def date(name: String, alias: String = null, nullable: Boolean = true): ColumnSpec =
    ColumnSpec(name, DateType, Option(alias), nullable)

  def timestamp(name: String, alias: String = null, nullable: Boolean = true): ColumnSpec =
    ColumnSpec(name, TimestampType, Option(alias), nullable)

  def emailCol(name: String, alias: String = null, nullable: Boolean = true,
               maxLength: Int = 320): ColumnSpec =
    ColumnSpec(name, StringType, Option(alias), nullable, Some(maxLength), email = true)
}
