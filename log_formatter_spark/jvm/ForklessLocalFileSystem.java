package log_formatter_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system ({@code fs.file.impl}) without
 * the child processes it starts when {@code libhadoop.so} is missing:
 * a {@code chmod} after every mkdir and permissioned create, and a
 * {@code readlink} for every link status the FileContext API reads.
 * {@link Fs} is the same file system for FileContext
 * ({@code fs.AbstractFileSystem.file.impl}).
 */
public class ForklessLocalFileSystem extends LocalFileSystem {
  public ForklessLocalFileSystem() {
    super(new Raw());
  }

  /** RawLocalFileSystem with the two forking calls done in-process. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & 07000) != 0) { // sticky, setuid, setgid: keep Hadoop's chmod
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission runs OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) {
          perms.add(bit);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /** What Hadoop returns when {@code readlink} prints nothing. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** org.apache.hadoop.fs.local.RawLocalFs over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }

  /** org.apache.hadoop.fs.local.LocalFs over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }
}
