package beats_spark.jvm;

import java.io.File;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

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
 * Hadoop's checksummed local filesystem, with modes and link status
 * read and set in-process.
 *
 * Without libhadoop, RawLocalFileSystem forks a shell command for
 * both: setPermission a chmod for every file, .crc sidecar and
 * directory a writer creates, and getFileLinkStatus a readlink for
 * both sides of every rename (each checkpoint-log commit). The nine
 * rwx bits go through java.nio instead, and a path that java.nio says
 * is no symlink gets its plain file status; a mode NIO cannot express
 * (sticky, setuid, setgid) and a real symlink keep the stock path. Fs
 * is the same filesystem for FileContext
 * (fs.AbstractFileSystem.file.impl), through which Structured
 * Streaming writes its checkpoint logs.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if ((permission.toShort() & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
    }

    /**
     * Stock readlink()s the path's string, which for a qualified
     * file: path names nothing and fails; any failure there means "no
     * symlink", and the answer is getFileStatus. Files.isSymbolicLink
     * tests that same string without a fork.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      if (Files.isSymbolicLink(new File(f.toString()).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** Hadoop's LocalFs, over Raw. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Hadoop's RawLocalFs, over Raw. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
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
    public boolean isValidName(String src) {
      return true;
    }
  }
}
