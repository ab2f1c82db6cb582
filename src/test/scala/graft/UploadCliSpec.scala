package graft

import java.nio.file.Files
import graft.sources.LocalDrive

/** The standalone upload CLI end-to-end: .env-sourced DRIVE_* settings
  * (override=False vs process env), name defaulting, the self-test
  * placeholder for a missing source, and upsert convergence.
  */
class UploadCliSpec extends SparkSpec {

  test("uploads via .env settings; process env wins; upsert converges") {
    Scratch.scoped("graft_cli_drive") { root =>
      Scratch.scoped("graft_cli_work") { work =>
        val envFile = work.resolve("dotenv")
        val src = work.resolve("report.csv")
        Files.writeString(src, "a,b\n1,x\n2,y")

        // .env asks for a folder that doesn't exist yet + no conversion
        val folder = LocalDrive.createFolder(root, "reports")
        Files.writeString(envFile,
          s"DRIVE_FOLDER_ID=$folder\nDRIVE_CONVERT_TO_SHEETS=false\n")
        val env = Map("GRAFT_ENV_FILE" -> envFile.toString)

        val out1 = UploadCli.run(spark, Array(root.toString, src.toString), env)
        assert(out1.startsWith("Uploaded report.csv (ID: "))
        val id = out1.dropWhile(_ != ':').drop(2).takeWhile(_ != ')')
        // raw CSV (no conversion), filed under the .env folder
        assert(LocalDrive.mimeOf(root, id).contains(LocalDrive.CsvMime))
        assert(LocalDrive.listEntries(root).find(_.id == id)
          .flatMap(_.parent).contains(folder))

        // re-upload with an explicit name converges on the same id
        val out2 = UploadCli.run(spark,
          Array(root.toString, src.toString, "report.csv"), env)
        assert(out2 == out1)

        // override=False: the PROCESS env beats the .env file
        val out3 = UploadCli.run(spark, Array(root.toString, src.toString),
          env + ("DRIVE_CONVERT_TO_SHEETS" -> "true"))
        val id3 = out3.dropWhile(_ != ':').drop(2).takeWhile(_ != ')')
        assert(id3 != id, "conversion requested: non-sheet hit must recreate")
        assert(LocalDrive.mimeOf(root, id3).contains(LocalDrive.SheetMime))

        // missing source file → self-test placeholder is created
        val ghost = work.resolve("ghost.csv")
        UploadCli.run(spark, Array(root.toString, ghost.toString), env)
        assert(Files.readString(ghost).contains("self-test placeholder"))
      }
    }
  }
}
