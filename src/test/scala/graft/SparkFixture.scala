package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkFixture {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkFixture.spark

  /** The Monty Python fixture text from the reference's join tests
    * (reference: spanner/test_join.py:41-45). */
  val MontyText: String =
    "\nIn AD 932, King Arthur and his squire, Patsy, travel throughout Britain \n" +
    "searching for men to join the Knights of the Round Table. Along the way, he \n" +
    "recruits Sir Bedevere the Wise, Sir Lancelot the Brave, Sir Galahad the Pure...\n"
}
