package kinesis_sample_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system ({@code .crc} files and checksum
 * verification stay on) over a raw file system that sets permissions in
 * process. Without native libhadoop, {@link RawLocalFileSystem#setPermission}
 * starts one {@code chmod} process per call, and every created file, its
 * {@code .crc} and every new directory make that call.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} whose {@code setPermission} is chmod(2) through NIO. */
  public static class Raw extends RawLocalFileSystem {

    // PosixFilePermission's declaration order: owner, group, others; read, write, execute.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        // NIO cannot set the sticky bit; keep Hadoop's own path for it.
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }
}
