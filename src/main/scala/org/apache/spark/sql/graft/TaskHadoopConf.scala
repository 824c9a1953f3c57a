package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkEnv
import org.apache.spark.deploy.SparkHadoopUtil

/** The Hadoop configuration Spark builds from its own conf, made once
  * per JVM: what a task needs to stat a file without the driver
  * shipping a whole configuration with every query. Lives in the
  * org.apache.spark namespace purely for access to
  * `SparkHadoopUtil`; contains no logic.
  */
object TaskHadoopConf {
  lazy val conf: Configuration = SparkHadoopUtil.get.newConfiguration(SparkEnv.get.conf)
}
